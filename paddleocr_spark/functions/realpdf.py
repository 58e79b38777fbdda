"""Real-PDF (`%PDF-`) text-object extraction — the deterministic subset.

The engine-side implementation of SPEC §3b: uncompressed content streams are
interpreted with a hand-rolled character scanner (the oracle re-derives the
same spec with a regex-driven tokenizer — different control flow, same
contract). This is the analog of the reference's real-PDF ingestion:
``check_and_read`` renders pages via PyMuPDF (`/root/reference/ppocr/utils/
utility.py:119-152`) and the system loops per page
(`/root/reference/tools/infer/predict_system.py:212-224`); here the text
objects ARE the detection output, so the page render is replaced by direct
``BT``/``ET`` interpretation and the boxes feed the SAME XY-cut /
layout-walk / paragraph-merge path as the PDFLIKE format (functions/
pdflike.py).

No PDF library: payloads live in a parquet string column, so the extractable
surface is the textual PDF skeleton plus the filter chains real PDFs use for
text content (SPEC §3b "Filters", corpus v5): ``/ASCIIHexDecode``,
``/ASCII85Decode``, ``/RunLengthDecode``, ``/FlateDecode`` (stdlib zlib) and
``/LZWDecode`` (hand-rolled, ISO 32000 §7.4.4 with ``/EarlyChange``), the
compression stages carried behind an ASCII-safe stage on the wire
(``[/ASCII85Decode /FlateDecode]`` etc.), plus ``/DecodeParms`` prediction
for the compression filters — TIFF horizontal differencing (``/Predictor
2``) and the PNG row filters (``/Predictor 10–15``) at ``/BitsPerComponent
8``. Unknown filters, unsupported parameter values, or any decode failure
skip the stream and count it dropped, never raise (the DecodeImage-None
contract).
"""

from __future__ import annotations

import bisect
import math
import re
import zlib
from typing import List, Optional, Tuple

import numpy as _np

from ..config import ExtractConfig, DEFAULT_CONFIG
from .pdflike import (
    Box,
    layout_walk,
    merge_paragraph_lines,
    xy_cut,
)
from .pngcodec import unfilter
from .textnorm import collapse_ws

PDF_REAL_MAGIC = "%PDF-"

_WS = "\x00\t\n\x0c\r "
_DELIM = "()<>[]{}/%"
_NUM_RE = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)$")
# format-spec literal (shared with the oracle by definition, like TOKEN_RE)
MEDIABOX_RE = re.compile(
    r"/MediaBox\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]"
)

_ESC_MAP = {"n": "\n", "r": "\r", "t": "\t", "b": "\x08", "f": "\x0c"}
_NONHEX_RE = re.compile(r"[^0-9a-fA-F]+")
_LIT_SPECIAL_RE = re.compile(r"[\\()]")
# a regular-character run: neither PDF whitespace nor a delimiter
_RUN_RE = re.compile(r"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def media_box(text: str) -> Tuple[float, float]:
    """(width, height) from the first /MediaBox; 612x792 on absence/garbage."""
    m = MEDIABOX_RE.search(text)
    if m:
        try:
            a, b, c, d = (float(g) for g in m.groups())
            w, h = c - a, d - b
            if w > 0 and h > 0:
                return w, h
        except ValueError:
            pass
    return 612.0, 792.0


def _dict_matches(text: str) -> Tuple[List[int], List[int]]:
    """ONE left-to-right pass over ``<<``/``>>`` tokens (non-overlapping,
    leftmost) with a stack: parallel lists (``>>`` token starts ascending,
    matched ``<<`` starts; -1 when unbalanced). Nested dicts (``/DecodeParms
    << ... >>``) match correctly where a bare rfind("<<") would return the
    innermost dict. Computed once per payload and shared by every stream's
    parameter lookup — the per-stream prefix rescan it replaces was
    O(doc × streams), quadratic on many-stream documents."""
    pos: List[int] = []
    match: List[int] = []
    stack: List[int] = []
    # C-level find() per token instead of a per-char Python scan: advance to
    # the leftmost of the next "<<" / ">>" and consume 2 chars — identical
    # non-overlapping leftmost tokenization (e.g. "<<<" yields one token).
    find = text.find
    i = 0
    p_open = find("<<")
    p_close = find(">>")
    while p_open != -1 or p_close != -1:
        if p_open != -1 and p_open < i:
            p_open = find("<<", i)
            continue
        if p_close != -1 and p_close < i:
            p_close = find(">>", i)
            continue
        if p_close == -1 or (p_open != -1 and p_open < p_close):
            stack.append(p_open)
            i = p_open + 2
            p_open = find("<<", i)
        else:
            pos.append(p_close)
            match.append(stack.pop() if stack else -1)
            i = p_close + 2
            p_close = find(">>", i)
    return pos, match


def _last_dict_match(pos: List[int], match: List[int], upto: int) -> int:
    """Match of the last ``>>`` token fully before ``upto`` (token start ≤
    upto−2; tokenization is prefix-stable, so filtering the global pass is
    exactly the bounded per-stream scan it replaces). -1 = none."""
    k = bisect.bisect_right(pos, upto - 2)
    return match[k - 1] if k else -1


def _param_dict_start(text: str, upto: int) -> int:
    """Single-use form of the lookup (kept for tests / direct callers)."""
    pos, match = _dict_matches(text)
    return _last_dict_match(pos, match, upto)


def _parse_filter_names(params: str) -> Optional[List[str]]:
    """Filter names from the parameter dict (SPEC §3b Filters), scanning
    from the FIRST ``/Filter`` occurrence: a single ``/Name`` or an array
    ``[/A /B ...]``. Returns the (possibly empty) name list, or None when
    the value is malformed — caller skips the stream."""
    k = params.find("/Filter")
    i = k + len("/Filter")
    n = len(params)

    def name_at(j: int) -> Tuple[str, int]:
        j += 1  # past '/'
        s = j
        while j < n and params[j] not in _WS and params[j] not in _DELIM:
            j += 1
        return params[s:j], j

    while i < n and params[i] in _WS:
        i += 1
    if i < n and params[i] == "/":
        nm, _ = name_at(i)
        return [nm]
    if i < n and params[i] == "[":
        i += 1
        names: List[str] = []
        while i < n:
            if params[i] in _WS:
                i += 1
                continue
            if params[i] == "]":
                return names
            if params[i] == "/":
                nm, i = name_at(i)
                names.append(nm)
                continue
            return None  # non-name inside the array
        return None  # unterminated array
    return None


# /DecodeParms keys the engine reads (SPEC §3b Filters v5); every other key
# in the parameter value is ignored. A known key followed by anything but an
# integer-valued number makes the whole value malformed → stream skipped.
_PARM_KEYS = ("Predictor", "Columns", "Colors", "BitsPerComponent", "EarlyChange")


def _scan_dict_numbers(params: str, i: int) -> Tuple[Optional[dict], int]:
    """Parse the ``<< ... >>`` dict starting at ``i`` (balanced, nesting
    allowed): returns ({known numeric keys}, index-after-closing ``>>``) or
    (None, -1) when unterminated or a known key's value is not an
    integer-valued number. The full balanced extent is scanned linearly —
    known keys inside nested sub-dicts are read like top-level ones."""
    n = len(params)
    depth = 0
    j = i
    while j < n - 1:
        two = params[j : j + 2]
        if two == "<<":
            depth += 1
            j += 2
        elif two == ">>":
            depth -= 1
            j += 2
            if depth == 0:
                break
        else:
            j += 1
    if depth != 0:
        return None, -1
    inner = params[i + 2 : j - 2]
    out: dict = {}
    m, n2 = 0, len(inner)
    while m < n2:
        if inner[m] != "/":
            m += 1
            continue
        e = m + 1
        while e < n2 and inner[e] not in _WS and inner[e] not in _DELIM:
            e += 1
        nm = inner[m + 1 : e]
        m = e
        if nm not in _PARM_KEYS:
            continue
        while m < n2 and inner[m] in _WS:
            m += 1
        s = m
        while m < n2 and inner[m] not in _WS and inner[m] not in _DELIM:
            m += 1
        tok = inner[s:m]
        if not _NUM_RE.match(tok):
            return None, -1
        v = float(tok)
        if v != int(v):
            return None, -1
        out[nm] = int(v)
    return out, j


def _parse_decode_parms(params: str, n_filters: int) -> Optional[List[Optional[dict]]]:
    """Per-filter parameter dicts from the FIRST ``/DecodeParms`` occurrence:
    ``null`` (= no parms), one ``<< ... >>`` dict (applies to the LAST filter
    — the compression stage in a chain), or an array of null/dict entries
    mapped positionally (missing entries → null, extras ignored). Returns a
    list aligned with the filter names, or None when malformed → skip."""
    k = params.find("/DecodeParms")
    if k < 0:
        return [None] * n_filters
    i = k + len("/DecodeParms")
    n = len(params)
    while i < n and params[i] in _WS:
        i += 1
    if params.startswith("null", i):
        return [None] * n_filters
    if params[i : i + 2] == "<<":
        d, _ = _scan_dict_numbers(params, i)
        if d is None:
            return None
        parms: List[Optional[dict]] = [None] * n_filters
        if n_filters:
            parms[-1] = d
        return parms
    if i < n and params[i] == "[":
        i += 1
        entries: List[Optional[dict]] = []
        while i < n:
            c = params[i]
            if c in _WS:
                i += 1
                continue
            if c == "]":
                entries += [None] * max(0, n_filters - len(entries))
                return entries[:n_filters]
            if params.startswith("null", i):
                entries.append(None)
                i += 4
                continue
            if params[i : i + 2] == "<<":
                d, j = _scan_dict_numbers(params, i)
                if d is None:
                    return None
                entries.append(d)
                i = j
                continue
            return None  # non-null/dict entry
        return None  # unterminated array
    return None  # malformed value


def _pred_params(p: Optional[dict]) -> Optional[Tuple[int, int, int, int]]:
    """Validated (predictor, colors, columns, early_change) for a
    compression filter's parameter dict; None → unsupported → skip. Only
    ``/BitsPerComponent 8`` is supported when prediction is on."""
    if p is None:
        p = {}
    pred = p.get("Predictor", 1)
    colors = p.get("Colors", 1)
    columns = p.get("Columns", 1)
    bpc = p.get("BitsPerComponent", 8)
    early = p.get("EarlyChange", 1)
    if pred not in (1, 2, 10, 11, 12, 13, 14, 15):
        return None
    if early not in (0, 1):
        return None
    if pred != 1 and (bpc != 8 or not 1 <= colors <= 8 or columns < 1):
        return None
    return pred, colors, columns, early


def _unpredict(data: bytes, pred: int, colors: int, columns: int) -> Optional[bytes]:
    """Reverse the /Predictor transform (ISO 32000 §7.4.4.4 at BPC=8):
    1 = none, 2 = TIFF horizontal differencing, ≥10 = PNG per-row filters
    (the row's leading type byte decides — all of 10–15 decode identically).
    Length not a whole number of rows, or a PNG row type > 4 → None."""
    if pred == 1:
        return data
    bpp = colors
    rowlen = colors * columns
    if pred == 2:
        if len(data) % rowlen:
            return None
        out = bytearray(data)
        for r0 in range(0, len(out), rowlen):
            for i in range(bpp, rowlen):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - bpp]) & 0xFF
        return bytes(out)
    out = unfilter(data, bpp, rowlen)
    return None if out is None else bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> Optional[bytes]:
    """LZW per ISO 32000 §7.4.4: MSB-first variable-width codes starting at
    9 bits; 256 = Clear (reset table + width), 257 = EOD (required — running
    out of bits first → None); width grows at table size ``2^w − early``
    (EarlyChange default 1), capped at 12. A code beyond the table (other
    than the KwKwK next-entry case) → None."""
    table: List[Optional[bytes]] = [bytes([i]) for i in range(256)] + [None, None]
    width = 9
    prev = b""
    out = bytearray()
    acc = nbits = 0
    i, n = 0, len(data)
    while True:
        while nbits < width:
            if i >= n:
                return None  # EOD never seen
            acc = (acc << 8) | data[i]
            i += 1
            nbits += 8
        nbits -= width
        code = acc >> nbits
        acc &= (1 << nbits) - 1  # keep only unread bits: linear, not quadratic
        if code == 257:
            return bytes(out)
        if code == 256:
            del table[258:]
            width = 9
            prev = b""
            continue
        if code < 256 or 258 <= code < len(table):
            entry = table[code]
        elif code == len(table) and prev:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev and len(table) < 4096:
            table.append(prev + entry[:1])
            if width < 12 and len(table) == (1 << width) - early:
                width += 1
        prev = entry


def _rle_decode(data: bytes) -> Optional[bytes]:
    """RunLengthDecode per ISO 32000 §7.4.5: length byte L — L ≤ 127 copies
    the next L+1 bytes, L ≥ 129 repeats the next byte 257−L times, 128 =
    EOD (required; truncated run or missing EOD → None)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            if i + length + 1 > n:
                return None
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                return None
            out += data[i : i + 1] * (257 - length)
            i += 1
    return None  # EOD never seen


_A85_BASE = ord("!")
_WS_BYTES = _WS.encode("latin-1")
# big-endian base-85 digit weights for one 5-char group
_POW85 = _np.array([85**4, 85**3, 85**2, 85, 1], dtype=_np.int64)
# contribution of the 'u' (=84) padding for a trailing group of k data chars:
# sum_{j=0}^{4-k} 84*85^j == 85^(5-k) - 1, indexed by k (k=0 unused)
_PAD85 = (0, 85**4 - 1, 85**3 - 1, 85**2 - 1, 85 - 1)


def _a85_decode(data: bytes) -> Optional[bytes]:
    """ASCII85 per SPEC §3b: PDF whitespace ignored; ``z`` = 4 zero bytes
    (group boundary only); ``~`` starts EOD and must be followed by ``>``;
    trailing group of k∈[1,5] chars padded with ``u`` yields k−1 bytes (so a
    single leftover char contributes nothing — stdlib-a85decode semantics,
    which the oracle mirror inherits); group overflow or any other char →
    None (failure). Vectorized (numpy 5-char group dot-product) — the
    original sequential scan's semantics are preserved exactly: the first
    ``~`` must be followed by ``>`` in the RAW stream (whitespace between
    them fails), ``z`` is legal only at a group boundary (multiple-of-5
    count of non-``z`` data chars), and a padded trailing group that
    overflows 2^32 fails even when it would contribute zero output bytes."""
    t = data.find(0x7E)  # first '~' — EOD marker (raw, pre-ws-strip)
    if t >= 0:
        if data[t + 1 : t + 2] != b">":
            return None
        data = data[:t]
    body = data.translate(None, _WS_BYTES)
    parts = body.split(b"z")
    out = []
    seen = 0
    last = len(parts) - 1
    for k, part in enumerate(parts):
        if k:  # a 'z' preceded this part: group must have been empty
            if seen % 5:
                return None
            out.append(b"\x00\x00\x00\x00")
        seen += len(part)
        if not part:
            continue
        a = _np.frombuffer(part, _np.uint8).astype(_np.int64) - _A85_BASE
        if (a < 0).any() or (a > 84).any():
            return None
        m = (a.size // 5) * 5
        if m:
            v = a[:m].reshape(-1, 5) @ _POW85
            if (v > 0xFFFFFFFF).any():
                return None
            out.append(v.astype(">u4").tobytes())
        tail = a.size - m
        if tail:
            if k != last:
                return None  # partial group at a 'z' boundary
            v = int(a[m:] @ _POW85[:tail]) + int(_PAD85[tail])
            if v > 0xFFFFFFFF:
                return None
            out.append(v.to_bytes(4, "big")[: tail - 1])
    return b"".join(out)


def _hex_decode(data: bytes) -> Optional[bytes]:
    """ASCIIHexDecode per SPEC §3b: chars up to the first ``>`` (or end);
    PDF whitespace ignored; odd digit count padded with ``0``; any other
    char → None (failure). C-path via ``bytes.fromhex`` — the explicit
    ``\\x0b`` guard preserves the failure semantics (vertical tab is ASCII
    whitespace to ``fromhex`` since 3.11 but NOT PDF whitespace, so it must
    fail, not skip)."""
    body = data.split(b">", 1)[0].translate(None, _WS_BYTES)
    if b"\x0b" in body:
        return None
    if len(body) % 2:
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None


def apply_stream_filters(
    body: str, names: List[str], parms: Optional[List[Optional[dict]]] = None
) -> Optional[str]:
    """Run the filter chain over the stream body (latin-1 bytes); None on
    any failure — unknown name, undecodable input, unsupported parameters,
    non-latin-1 body. ``parms`` aligns positionally with ``names``;
    prediction applies to the compression filters' output only (parameter
    dicts on the ASCII filters are ignored, per ISO 32000 Table 6)."""
    try:
        data: Optional[bytes] = body.encode("latin-1")
    except UnicodeEncodeError:
        return None
    if parms is None:
        parms = [None] * len(names)
    for nm, p in zip(names, parms):
        if data is None:
            return None
        if nm == "ASCIIHexDecode":
            data = _hex_decode(data)
        elif nm == "ASCII85Decode":
            data = _a85_decode(data)
        elif nm == "RunLengthDecode":
            data = _rle_decode(data)
        elif nm in ("FlateDecode", "LZWDecode"):
            pp = _pred_params(p)
            if pp is None:
                return None
            pred, colors, columns, early = pp
            if nm == "FlateDecode":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    return None
            else:
                data = _lzw_decode(data, early)
            if data is not None and pred != 1:
                data = _unpredict(data, pred, colors, columns)
        else:
            return None
    if data is None:
        return None
    return data.decode("latin-1")


# --- fonts & ToUnicode CMaps (SPEC §3b Fonts, corpus v6) --------------------


def _object_map(text: str):
    """``N 0 obj ... endobj`` segmentation, consumed sequentially in one
    pass (an ``N 0 obj`` inside a previous object's extent is body text, not
    an object): {num: (body_start, body_end)} — the LAST definition of a
    number wins (incremental-update semantics) — plus the ascending interval
    list [(body_start, body_end, num)] for position→object lookup."""
    objs: dict = {}
    intervals: List[Tuple[int, int, int]] = []
    pos = 0
    n = len(text)
    while True:
        k = text.find("obj", pos)
        if k < 0:
            break
        after_ok = k + 3 >= n or text[k + 3] in _WS or text[k + 3] in _DELIM
        j = k - 1
        while j >= 0 and text[j] in _WS:
            j -= 1
        if not after_ok or j < 0 or j == k - 1 or text[j] != "0":
            pos = k + 3
            continue
        j -= 1
        if j < 0 or text[j] not in _WS:
            pos = k + 3
            continue
        while j >= 0 and text[j] in _WS:
            j -= 1
        e = j
        while j >= 0 and text[j].isdigit():
            j -= 1
        if j == e:  # no generation-number digits
            pos = k + 3
            continue
        num = int(text[j + 1 : e + 1])
        end = text.find("endobj", k + 3)
        if end < 0:
            objs[num] = (k + 3, n)
            intervals.append((k + 3, n, num))
            break
        objs[num] = (k + 3, end)
        intervals.append((k + 3, end, num))
        pos = end + 6
    return objs, intervals


def _skip_ws(s: str, i: int) -> int:
    n = len(s)
    while i < n and s[i] in _WS:
        i += 1
    return i


_NAMEHEX_RE = re.compile(r"#([0-9a-fA-F]{2})")


def _name_unescape(nm: str) -> str:
    """#XX hex escapes in a name token → their byte (ISO 32000 §7.3.5,
    v48): ``F#31`` ≡ ``F1``, ``A#20B`` is the name "A B". A ``#`` not
    followed by exactly two hex digits stays literal (the Acrobat
    degrade). Applies to every name read as a VALUE, dict key, or
    operand; key-anchored finds (``/Subtype`` …) and filter names match
    literally — a #-escaped STANDARD key is a pinned no-match."""
    if "#" not in nm:
        return nm
    return _NAMEHEX_RE.sub(lambda m: chr(int(m.group(1), 16)), nm)


def _read_name_token(s: str, i: int) -> Tuple[str, int]:
    """Name body starting after the ``/`` at ``i`` (#XX decoded, v48)."""
    j = i + 1
    n = len(s)
    while j < n and s[j] not in _WS and s[j] not in _DELIM:
        j += 1
    return _name_unescape(s[i + 1 : j]), j


def _read_ref(s: str, i: int) -> Tuple[Optional[int], int]:
    """``N 0 R`` starting at ``i`` (after whitespace): (N, index-after-R) or
    (None, i) when the token sequence doesn't match."""
    n = len(s)
    j = _skip_ws(s, i)
    d0 = j
    while j < n and s[j].isdigit():
        j += 1
    if j == d0:
        return None, i
    num = int(s[d0:j])
    j2 = _skip_ws(s, j)
    if j2 == j or not s[j2 : j2 + 1] == "0":
        return None, i
    j2 += 1
    j3 = _skip_ws(s, j2)
    if j3 == j2 or s[j3 : j3 + 1] != "R":
        return None, i
    after = j3 + 1
    if after < n and s[after] not in _WS and s[after] not in _DELIM:
        return None, i
    return num, after


def _key_ref(body: str, key: str) -> Optional[int]:
    """``/Key N 0 R`` at the FIRST occurrence of the literal key (token must
    end exactly at the key name); None when absent or not a ref."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return None  # longer name, e.g. /ContentsX
    num, _ = _read_ref(body, after)
    return num


def _key_int(body: str, key: str) -> Optional[int]:
    """``/Key N`` at the FIRST occurrence of the literal key (token-exact):
    a plain non-negative integer value, or None."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    n = len(body)
    if after < n and body[after] not in _WS and body[after] not in _DELIM:
        return None
    j = _skip_ws(body, after)
    d0 = j
    while j < n and body[j].isdigit():
        j += 1
    if j == d0:
        return None
    if j < n and body[j] not in _WS and body[j] not in _DELIM:
        return None  # e.g. "12x" — not an integer token
    return int(body[d0:j])


def _first_type_is(body: str, name: str) -> bool:
    """True when the FIRST ``/Type`` in the body is followed (ws*) by the
    exact name ``/name`` (shared rule of the Page and ObjStm detectors)."""
    k = body.find("/Type")
    if k < 0:
        return False
    i = _skip_ws(body, k + len("/Type"))
    if body[i : i + 1] != "/":
        return False
    nm, _ = _read_name_token(body, i)
    return nm == name


def _objstm_bodies(text: str, objs: dict) -> dict:
    """Object bodies stored inside `/Type /ObjStm` container streams (ISO
    32000 §7.5.7): each container decodes through its own filter chain; the
    first ``/First`` chars are ``num offset`` integer pairs (up to ``/N``;
    a non-integer token ends the header), and object i's serialized body is
    the slice between consecutive offsets. Containers are processed in
    ascending document position; contained definitions override
    same-numbered direct objects (they cannot contain streams, so content
    streams and CMap streams always stay direct). Any failure skips the
    container — never raises."""
    out: dict = {}
    for num in sorted(objs, key=lambda m: objs[m][0]):
        span = objs[num]
        body = text[span[0] : span[1]]
        if "/ObjStm" not in body or not _first_type_is(body, "ObjStm"):
            continue
        k = body.find("stream")
        if k < 0:
            continue
        after = k + 6
        if body[after : after + 2] == "\r\n":
            cstart = after + 2
        elif body[after : after + 1] == "\n":
            cstart = after + 1
        else:
            continue
        end = body.find("endstream", cstart)
        if end < 0:
            continue
        content = body[cstart:end]
        params = body[:k]
        if "/Filter" in params:
            names = _parse_filter_names(params)
            if names is None:
                continue
            fparms = _parse_decode_parms(params, len(names))
            if fparms is None:
                continue
            decoded = apply_stream_filters(content, names, fparms)
            if decoded is None:
                continue
            content = decoded
        n_objs = _key_int(params, "/N")
        first = _key_int(params, "/First")
        if n_objs is None or first is None or first > len(content):
            continue
        header = content[:first]
        nums: List[int] = []
        i, hn = 0, len(header)
        while len(nums) < 2 * n_objs:
            i = _skip_ws(header, i)
            j = i
            while j < hn and header[j] not in _WS:
                j += 1
            tok = header[i:j]
            if not tok or not tok.isdigit():
                break
            nums.append(int(tok))
            i = j
        pairs = [(nums[m], nums[m + 1]) for m in range(0, len(nums) - 1, 2)]
        for idx, (onum, off) in enumerate(pairs):
            nxt = pairs[idx + 1][1] if idx + 1 < len(pairs) else len(content) - first
            out[onum] = content[first + off : first + nxt]
    return out


def _hex_token(s: str, i: int) -> Tuple[Optional[str], int]:
    """``< hexdigits >`` starting at ws before ``i``; (digits, index-after)
    or (None, i) — any non-hex/non-ws char inside ends the section."""
    j = _skip_ws(s, i)
    if s[j : j + 1] != "<":
        return None, i
    j += 1
    digits = []
    n = len(s)
    while j < n and s[j] != ">":
        if s[j] in "0123456789abcdefABCDEF":
            digits.append(s[j])
        elif s[j] in _WS:
            pass
        else:
            return None, i
        j += 1
    if j >= n:
        return None, i
    return "".join(digits), j + 1


def _utf16be(hexdigits: str) -> Optional[str]:
    if len(hexdigits) % 4:
        return None
    try:
        return bytes.fromhex(hexdigits).decode("utf-16-be")
    except ValueError:
        return None


_CMAP_RANGE_CAP = 256


def _parse_cmap(content: str):
    """ToUnicode CMap → ({(code, nbytes): str}, sorted code lengths desc).
    bfchar pairs ``<src> <dst>`` and bfrange triples ``<lo> <hi> <dst>`` /
    ``<lo> <hi> [<d1> ...]``; src must be 1 or 2 bytes (even hex digits),
    dst UTF-16BE; a range maps lo+i by incrementing dst's final code point
    (array form maps positionally); span > 256 → entry ignored; a malformed
    token ends its section; bad entries are skipped, never raised."""
    cmap: dict = {}
    lengths: set = set()

    def add(code: int, nb: int, dst: Optional[str]) -> None:
        if dst is not None:
            cmap[(code, nb)] = dst
            lengths.add(nb)

    pos = 0
    while True:
        a = content.find("beginbfchar", pos)
        if a < 0:
            break
        i = a + len("beginbfchar")
        while True:
            src, i = _hex_token(content, i)
            if src is None or len(src) % 2 or len(src) // 2 not in (1, 2):
                break
            dst, i2 = _hex_token(content, i)
            if dst is None:
                break
            i = i2
            add(int(src, 16), len(src) // 2, _utf16be(dst))
        pos = i
    pos = 0
    while True:
        a = content.find("beginbfrange", pos)
        if a < 0:
            break
        i = a + len("beginbfrange")
        while True:
            lo_h, i = _hex_token(content, i)
            if lo_h is None or len(lo_h) % 2 or len(lo_h) // 2 not in (1, 2):
                break
            hi_h, i2 = _hex_token(content, i)
            if hi_h is None:
                break
            i = i2
            j = _skip_ws(content, i)
            lo, hi, nb = int(lo_h, 16), int(hi_h, 16), len(lo_h) // 2
            if content[j : j + 1] == "[":
                i = j + 1
                arr: List[Optional[str]] = []
                while True:
                    d, i2 = _hex_token(content, i)
                    if d is None:
                        break
                    arr.append(_utf16be(d))
                    i = i2
                i = _skip_ws(content, i)
                if content[i : i + 1] == "]":
                    i += 1
                if 0 <= hi - lo <= _CMAP_RANGE_CAP:
                    for off, dst in enumerate(arr[: hi - lo + 1]):
                        add(lo + off, nb, dst)
                continue
            dst_h, i2 = _hex_token(content, i)
            if dst_h is None:
                break
            i = i2
            base = _utf16be(dst_h)
            if base and 0 <= hi - lo <= _CMAP_RANGE_CAP:
                for off in range(hi - lo + 1):
                    add(lo + off, nb, base[:-1] + chr(ord(base[-1]) + off))
        pos = i
    if not cmap:
        return None
    lens = sorted(lengths, reverse=True)
    # 1-byte-only CMaps (the overwhelmingly common case) get a str.translate
    # table: ordinal -> replacement string, unmapped chars pass identity —
    # exactly the per-char loop's semantics, in one C call per show-string.
    xlate = {code: dst for (code, _nb), dst in cmap.items()} if lens == [1] else None
    return cmap, lens, xlate


def _dict_extent(body: str, at: int) -> Tuple[int, int]:
    """Balanced ``<< ... >>`` starting at ``at``; (inner_start, inner_end)
    or (-1, -1)."""
    depth = 0
    i = at
    n = len(body)
    while i < n - 1:
        two = body[i : i + 2]
        if two == "<<":
            depth += 1
            i += 2
        elif two == ">>":
            depth -= 1
            i += 2
            if depth == 0:
                return at + 2, i - 2
        else:
            i += 1
    return -1, -1


def _obj_body(text: str, objs: dict, vobjs: dict, num: int) -> Optional[str]:
    """Body of object ``num`` — ObjStm-contained definitions (vobjs)
    override direct ones; None when undefined."""
    if num in vobjs:
        return vobjs[num]
    if num in objs:
        return text[objs[num][0] : objs[num][1]]
    return None


def _contents_refs(body: str) -> list:
    """``/Contents`` (FIRST occurrence, token-exact) → list of referenced
    object numbers: a single ``N 0 R``, or a ``[ N 0 R … ]`` array read
    left-to-right until ``]`` or the first non-ref element (v14 — ISO
    32000 §7.7.3.3: an array of streams is treated as their concatenation).
    Empty list when absent/malformed."""
    k = body.find("/Contents")
    if k < 0:
        return []
    after = k + len("/Contents")
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return []
    i = _skip_ws(body, after)
    if body[i : i + 1] == "[":
        i += 1
        refs = []
        while i < len(body):
            i = _skip_ws(body, i)
            if body[i : i + 1] == "]":
                break
            num, i2 = _read_ref(body, i)
            if num is None:
                break  # malformed element ends the array read
            refs.append(num)
            i = i2
        return refs
    num, _ = _read_ref(body, i)
    return [num] if num is not None else []


def _key_dict_body(
    container: str, key: str, text: str, objs: dict, vobjs: dict
) -> Optional[str]:
    """``/Key`` (FIRST occurrence, token-exact) inside ``container`` →
    the value dict's body: inline ``<< ... >>`` extent, or the body of the
    referenced object. None when absent/malformed (shared resolution step
    of /Resources, /Font and /XObject — SPEC §3b Fonts + Form XObjects)."""
    k = container.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(container) and container[after] not in _WS and container[after] not in _DELIM:
        return None  # longer name, e.g. /ResourcesX
    i = _skip_ws(container, after)
    if container[i : i + 2] == "<<":
        s0, s1 = _dict_extent(container, i)
        return container[s0:s1] if s0 >= 0 else ""
    num, _ = _read_ref(container, i)
    return _obj_body(text, objs, vobjs, num) if num is not None else None


def _name_ref_pairs(ndict: str):
    """``/name N 0 R`` pairs over a dict body's full extent (shared walk of
    the /Font and /XObject entry scans)."""
    i, n = 0, len(ndict)
    while i < n:
        if ndict[i] != "/":
            i += 1
            continue
        nm, i = _read_name_token(ndict, i)
        num, i2 = _read_ref(ndict, i)
        if num is None:
            continue
        i = i2
        yield nm, num


# --- /Encoding /Differences → glyph-name decoding (SPEC §3b, v13) -----------
# Adobe Glyph List subset: the Standard/WinAnsi glyph names a Differences
# array realistically remaps (ASCII punctuation/digit/letter names, the
# Latin-1 supplement, WinAnsi typographic marks, fi/fl). Public data
# (Adobe AGL). A name outside the table (and not uniXXXX) leaves its code
# UNMAPPED — identity pass-through, the same degradation rule as fonts
# without a usable CMap.
_GLYPH_UNI: dict = {c: c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"}
_GLYPH_UNI.update({
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 supplement (AGL names, code points U+00A1..U+00FF)
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "twosuperior": "²",
    "threesuperior": "³", "acute": "´", "mu": "µ",
    "paragraph": "¶", "periodcentered": "·", "cedilla": "¸",
    "onesuperior": "¹", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
    "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
    "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú",
    "Ucircumflex": "Û", "Udieresis": "Ü", "Yacute": "Ý",
    "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    # WinAnsi typographic set (ISO 32000 Annex D.2 codes 0x80..0x9F)
    "Euro": "€", "quotesinglbase": "‚", "florin": "ƒ",
    "quotedblbase": "„", "ellipsis": "…", "dagger": "†",
    "daggerdbl": "‡", "circumflex": "ˆ", "perthousand": "‰",
    "Scaron": "Š", "guilsinglleft": "‹", "OE": "Œ",
    "Zcaron": "Ž", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”", "bullet": "•",
    "endash": "–", "emdash": "—", "tilde": "˜",
    "trademark": "™", "scaron": "š", "guilsinglright": "›",
    "oe": "œ", "zcaron": "ž", "Ydieresis": "Ÿ",
    "fi": "ﬁ", "fl": "ﬂ",
})
_UNI_NAME_RE = re.compile(r"uni([0-9A-F]{4})\Z")


def _glyph_uni(name: str) -> Optional[str]:
    """Glyph name → unicode: the AGL-subset table, else the AGL ``uniXXXX``
    rule (exactly 4 uppercase hex digits; surrogate range refused), else
    None (code stays identity)."""
    hit = _GLYPH_UNI.get(name)
    if hit is not None:
        return hit
    m = _UNI_NAME_RE.match(name)
    if m:
        cp = int(m.group(1), 16)
        if not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return None


# Base encodings (v18 — ISO 32000 Annex D.2, public tables). WinAnsi is
# cp1252: identity everywhere outside the C1 block (verified against the
# codec), so only the 27 defined C1 codes carry entries — the five
# undefined codes (81 8D 8F 90 9D) stay identity, the subset's rule for
# unmapped codes. MacRoman remaps the whole high half; the kernel derives
# its table from Python's mac_roman codec while the oracle carries an
# independent literal (content-equality asserted in tests/test_realpdf).
# Any OTHER bare encoding name (/StandardEncoding, /PDFDocEncoding,
# unknown) stays identity — the documented subset rule, unchanged.
_WINANSI_XLATE = {
    b: bytes([b]).decode("cp1252")
    for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
}
_MACROMAN_XLATE = {
    0x80 + i: ch
    for i, ch in enumerate(bytes(range(0x80, 0x100)).decode("mac_roman"))
}
_BASE_ENCODINGS = {
    "WinAnsiEncoding": _WINANSI_XLATE,
    "MacRomanEncoding": _MACROMAN_XLATE,
}

# v31: /Encoding /Identity-H (or /Identity-V) with no usable /ToUnicode
# (ISO 32000 §9.7.5.2): show-string bytes are consumed as 2-byte CIDs and
# interpreted identity-to-Unicode — the common generator pattern omits
# the ToUnicode exactly because the CIDs ARE the UTF-16BE code units.
# Surrogate-range codes map to U+FFFD (a lone surrogate is not a Unicode
# scalar and Arrow/parquet reject it); a lone trailing byte and any char
# above U+00FF pass through identity one char at a time (the _apply_cmap
# degrade rule). The entry keeps the (cmap, lengths, xlate) shape with a
# string sentinel in the cmap slot — a 65536-entry dict per font would
# cost more to build than most payloads cost to extract.
_ID2_ENTRY = ("ID2", (2,), None)
# v53: Identity-V — same 2-byte identity decode, VERTICAL writing mode
# (the flush advances downward and emits a column box)
_ID2V_ENTRY = ("ID2V", (2,), None)
# v61: UTF-16 predefined CMaps — 2-byte code units with SURROGATE-PAIR
# combining (astral text decodes to real code points; lone surrogates
# degrade to U+FFFD). Identity/UCS2 entries keep the pair-less v31 rule.
_U16_ENTRY = ("U16", (2,), None)
_U16V_ENTRY = ("U16V", (2,), None)
# v62: UTF-32 predefined CMaps — 4-byte big-endian code points (valid
# scalar values only; surrogates/out-of-range → U+FFFD; trailing 1–3
# bytes fall back to identity chars, the v31 odd-byte rule)
_U32_ENTRY = ("U32", (4,), None)
_U32V_ENTRY = ("U32V", (4,), None)
_VERT_KINDS = ("ID2V", "U16V", "U32V")


def _id2_decode(s: str) -> str:
    out: List[str] = []
    i, n = 0, len(s)
    while i < n:
        o0 = ord(s[i])
        if o0 <= 0xFF and i + 1 < n and ord(s[i + 1]) <= 0xFF:
            code = (o0 << 8) | ord(s[i + 1])
            out.append("�" if 0xD800 <= code <= 0xDFFF else chr(code))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _u32_decode(s: str) -> str:
    """v62: 4-byte UTF-32BE codes → code points; invalid scalar values
    (surrogates, > U+10FFFF) degrade to U+FFFD; a non-byte char or a
    short tail falls back to identity one char at a time."""
    out: List[str] = []
    i, n = 0, len(s)
    while i < n:
        if i + 3 < n and all(ord(s[i + k]) <= 0xFF for k in range(4)):
            code = (
                (ord(s[i]) << 24)
                | (ord(s[i + 1]) << 16)
                | (ord(s[i + 2]) << 8)
                | ord(s[i + 3])
            )
            out.append(
                "�"
                if code > 0x10FFFF or 0xD800 <= code <= 0xDFFF
                else chr(code)
            )
            i += 4
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _u16_decode(s: str) -> str:
    """v61: UTF-16BE code units with surrogate-pair combining; a high
    surrogate followed by a low combines to one astral char, any lone
    surrogate degrades to U+FFFD (never raises)."""
    out: List[str] = []
    i, n = 0, len(s)
    while i < n:
        o0 = ord(s[i])
        if o0 <= 0xFF and i + 1 < n and ord(s[i + 1]) <= 0xFF:
            code = (o0 << 8) | ord(s[i + 1])
            if (
                0xD800 <= code <= 0xDBFF
                and i + 3 < n
                and ord(s[i + 2]) <= 0xFF
                and ord(s[i + 3]) <= 0xFF
            ):
                lo = (ord(s[i + 2]) << 8) | ord(s[i + 3])
                if 0xDC00 <= lo <= 0xDFFF:
                    out.append(
                        chr(0x10000 + ((code - 0xD800) << 10) + (lo - 0xDC00))
                    )
                    i += 4
                    continue
            out.append("�" if 0xD800 <= code <= 0xDFFF else chr(code))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _key_name(body: str, key: str) -> Optional[str]:
    """``/Key /Name`` anchored at the FIRST token-exact ``key`` → Name,
    else None (v18 — the name twin of ``_key_ref``)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return None
    i = _skip_ws(body, after)
    if body[i : i + 1] != "/":
        return None
    nm, _i = _read_name_token(body, i)
    return nm or None


def _differences_entry(text: str, objs: dict, vobjs: dict, fbody: str):
    """Font body → cmap entry from ``/Encoding`` (ISO 32000 §9.6.6).

    v18: ``/Encoding`` may be a BARE NAME — ``/WinAnsiEncoding`` /
    ``/MacRomanEncoding`` load the Annex D.2 base table, any other name
    stays identity — or a dict (inline or referenced encoding object)
    whose ``/BaseEncoding`` name seeds the table BEFORE the
    ``/Differences`` overlay (§9.6.6.3 precedence). The Differences array
    alternates integer start-codes and glyph names; each name maps the
    current code and increments it. Only table-resolvable names produce
    entries; codes outside 0..255 and unknown names are skipped (still
    increment). Returns the same (cmap, lengths, xlate) shape as a 1-byte
    ToUnicode CMap so ``_apply_cmap``'s translate fast path applies
    unchanged, or None when neither a base table nor usable Differences
    exist (identity)."""
    enc = _key_dict_body(fbody, "/Encoding", text, objs, vobjs)
    if enc is None:
        nm = _key_name(fbody, "/Encoding")
        if nm == "Identity-H":  # v31
            return _ID2_ENTRY
        if nm == "Identity-V":  # v31 decode; v53 vertical layout
            return _ID2V_ENTRY
        # v54: predefined Unicode CMap names (ISO §9.7.5.2 Table 118) —
        # UniGB-UCS2-H, UniJIS-UCS2-V, UniKS-UTF16-H, … are 2-byte(-ish)
        # CID encodings whose UCS-2 forms are near-identity over the BMP.
        # The deterministic approximation: any /Uni…-H/-V name takes the
        # 2-byte identity entry (code consumption and advance-width
        # accounting become correct; the decoded text is the UCS-2
        # approximation, exact for the UCS2 variants' BMP coverage) and
        # the -V suffix selects the v53 vertical layout. Non-Uni
        # predefined CMaps (90ms-RKSJ-H …) keep the pre-v54 degrade
        # (mixed-width legacy encodings — a 2-byte read would be wrong
        # half the time). v61/v62: -UTF16- pairs combine, -UTF32- reads
        # real 4-byte code points; -UCS2- stays the 2-byte identity.
        if (
            nm is not None
            and nm.startswith("Uni")
            and ("-UCS2-" in nm or "-UTF16-" in nm or "-UTF32-" in nm)
        ):
            if "-UTF32-" in nm:  # v62
                if nm.endswith("-H"):
                    return _U32_ENTRY
                if nm.endswith("-V"):
                    return _U32V_ENTRY
            u16 = "-UTF16-" in nm  # v61: pair-combining entries
            if nm.endswith("-H"):
                return _U16_ENTRY if u16 else _ID2_ENTRY
            if nm.endswith("-V"):
                return _U16V_ENTRY if u16 else _ID2V_ENTRY
        base = _BASE_ENCODINGS.get(nm) if nm else None
        if base is None:
            return None
        xlate = dict(base)
        return {(c, 1): u for c, u in xlate.items()}, [1], xlate
    base = _BASE_ENCODINGS.get(_key_name(enc, "/BaseEncoding") or "")
    xlate = dict(base) if base else {}
    k = enc.find("/Differences")
    has_diff = True
    if k < 0:
        has_diff = False
    else:
        after = k + len("/Differences")
        if after < len(enc) and enc[after] not in _WS and enc[after] not in _DELIM:
            has_diff = False
        else:
            i = _skip_ws(enc, after)
            if enc[i : i + 1] != "[":
                has_diff = False
            else:
                i += 1
    if not has_diff:
        if not xlate:
            return None
        return {(c, 1): u for c, u in xlate.items()}, [1], xlate
    n = len(enc)
    code = -1
    while i < n:
        ch = enc[i]
        if ch in _WS:
            i += 1
            continue
        if ch == "]":
            break
        if ch == "/":
            nm, i = _read_name_token(enc, i)
            if 0 <= code <= 0xFF:
                uni = _glyph_uni(nm)
                if uni is not None:
                    xlate[code] = uni
            code += 1
            continue
        j = i
        while j < n and enc[j] not in _WS and enc[j] not in _DELIM:
            j += 1
        tok = enc[i:j]
        i = j if j > i else i + 1
        try:
            code = int(tok)
        except ValueError:
            code = -1  # malformed token: following names don't map
    if not xlate:
        return None
    return {(c, 1): u for c, u in xlate.items()}, [1], xlate


def _has_key(body: str, key: str) -> bool:
    """Token-exact presence of ``key`` at its FIRST literal occurrence —
    the presence twin of ``_key_dict_body``'s resolution rule (v15)."""
    k = body.find(key)
    if k < 0:
        return False
    after = k + len(key)
    return after >= len(body) or body[after] in _WS or body[after] in _DELIM


def _inherited_resources(text: str, objs: dict, vobjs: dict, body: str):
    """The page's effective /Resources dict body (ISO 32000 §7.7.3.4
    inheritable attributes, v15): the FIRST body on the page → /Parent
    ancestor walk that CARRIES a token-exact /Resources key wins — even
    when its value fails to resolve (inheritance applies only when the
    key is absent, not when it is broken). Same walk contract as the v10
    geometry rule: ≤ 16 hops, a re-visited ref ends the walk."""
    cur = body
    visited = set()
    for _ in range(_GEO_MAX_HOPS + 1):
        if _has_key(cur, "/Resources"):
            return _key_dict_body(cur, "/Resources", text, objs, vobjs)
        pref = _key_ref(cur, "/Parent")
        if pref is None or pref in visited:
            return None
        visited.add(pref)
        nxt = _obj_body(text, objs, vobjs, pref)
        if nxt is None:
            return None
        cur = nxt
    return None


def _read_ref_list(s: str, i: int) -> list:
    """Refs left-to-right from the ``[`` at ``i`` until ``]`` or the
    first non-ref element (the /Contents array rule)."""
    out: list = []
    i += 1
    while True:
        j = _skip_ws(s, i)
        if j >= len(s) or s[j] == "]":
            return out
        num, i = _read_ref(s, j)
        if num is None:
            return out
        out.append(num)


def _key_string(body: str, key: str) -> Optional[str]:
    """Inline literal/hex string value after the key's FIRST token-exact
    occurrence; None otherwise (SPEC §3b Annotations, v27)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return None
    j = _skip_ws(body, after)
    if body[j : j + 1] == "(":
        val, _e, _ok = _read_literal(body, j)
        return val
    if body[j : j + 1] == "<" and body[j : j + 2] != "<<":
        val, _e = _read_hex(body, j)
        return val
    return None


def _page_annots(text: str, objs: dict, vobjs: dict, body: str) -> tuple:
    """A page's text-bearing annotations (SPEC §3b Annotations, v27+v28;
    ISO 32000 §12.5): /Contents strings of FreeText and the §12.5.6 markup
    set (Text sticky notes, Highlight/Underline/Squiggly/StrikeOut
    comments, Caret/Ink/Square/Circle/Polygon/PolyLine/Stamp/
    FileAttachment — /Popup excluded, it duplicates its parent's text)
    plus /Widget /V filled form-field values, each with a valid inline
    /Rect, as (u0, v0, u1, v1, text, hidden) tuples in user space —
    normalized corners, BOM-decoded text, hidden = /F bit 2 (Hidden) or
    6 (NoView)."""
    k = body.find("/Annots")
    if k < 0:
        return ()
    after = k + len("/Annots")
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return ()
    j = _skip_ws(body, after)
    if body[j : j + 1] == "[":
        refs = _read_ref_list(body, j)
    else:
        num, _ = _read_ref(body, after)
        if num is None:
            return ()
        ab = _obj_body(text, objs, vobjs, num)
        if ab is None:
            return ()
        j = _skip_ws(ab, 0)
        if ab[j : j + 1] != "[":
            return ()
        refs = _read_ref_list(ab, j)
    out = []
    for num in refs:
        ab = _obj_body(text, objs, vobjs, num)
        if ab is None:
            continue
        st = _subtype_name(ab)
        if st in _ANNOT_TEXT_SUBTYPES:
            txt = _key_string(ab, "/Contents")
        elif st == "Widget":
            txt = _key_string(ab, "/V")
            if txt is None and not _has_key(ab, "/V"):
                # v45: /V is an inheritable field attribute (ISO 32000
                # §12.7.3.3) — a kid widget without its own takes the
                # NEAREST ancestor's via the /Parent chain (radio groups
                # and multi-widget text fields store the value on the
                # parent field). Bounded depth 8, cycle-guarded; only
                # the string form inherits (name values like /Off are
                # appearance states, not text — the v27 pin). The
                # widget's own /Rect and /F stay: annotation attributes
                # never inherit.
                seen = {num}
                pb = ab
                for _ in range(8):
                    pn = _key_ref(pb, "/Parent")
                    if pn is None or pn in seen:
                        break
                    seen.add(pn)
                    pb = _obj_body(text, objs, vobjs, pn)
                    if pb is None:
                        break
                    if _has_key(pb, "/V"):
                        # the NEAREST /V-bearing ancestor decides: a
                        # string is the field text; a name (/Off) or
                        # other form is an appearance state → no text,
                        # and farther ancestors never apply
                        txt = _key_string(pb, "/V")
                        break
        else:
            continue
        if txt is None:
            continue
        rect = _key_num_array(ab, "/Rect", 4)
        if rect is None:
            continue
        # /F needs the scan-to-first-TOKEN-EXACT rule: the single-shot
        # find would land inside /FreeText or /FT and always fail
        f = None
        fk = -1
        while True:
            fk = ab.find("/F", fk + 1)
            if fk < 0:
                break
            fafter = fk + 2
            if (
                fafter >= len(ab)
                or ab[fafter] in _WS
                or ab[fafter] in _DELIM
            ):
                f = _key_int(ab[fk:], "/F")
                break
        hidden = f is not None and bool(f & 2 or f & 32)
        out.append(
            (
                min(rect[0], rect[2]),
                min(rect[1], rect[3]),
                max(rect[0], rect[2]),
                max(rect[1], rect[3]),
                _atext_decode(txt),
                hidden,
            )
        )
    return tuple(out)


def _append_annots(
    boxes: list, annots: tuple, mb_w: float, mb_h: float, rot: int,
    cx: float, cy: float, cfg: ExtractConfig,
) -> int:
    """Append a page's annotation boxes after its content boxes (SPEC §3b
    Annotations, v27): crop shift + the flush rotation corner map with
    the rect's own extent. Returns the hidden-suppression count."""
    if rot in (90, 270):
        sx, sy = cfg.page_w / mb_h, cfg.page_h / mb_w
    else:
        sx, sy = cfg.page_w / mb_w, cfg.page_h / mb_h
    dropped = 0
    for u0r, v0r, u1r, v1r, txt, hidden in annots:
        if not txt.strip():
            continue
        if hidden:
            dropped += 1
            continue
        u0, v0, u1, v1 = u0r - cx, v0r - cy, u1r - cx, v1r - cy
        if rot == 90:
            x0, y0, x1, y1 = v0, u0, v1, u1
        elif rot == 180:
            x0, y0, x1, y1 = mb_w - u1, v0, mb_w - u0, v1
        elif rot == 270:
            x0, y0, x1, y1 = mb_h - v1, mb_w - u1, mb_h - v0, mb_w - u0
        else:
            x0, y0, x1, y1 = u0, mb_h - v1, u1, mb_h - v0
        boxes.append(
            (
                int(math.floor(x0 * sx + 0.5)),
                int(math.floor(y0 * sy + 0.5)),
                int(math.floor(x1 * sx + 0.5)),
                int(math.floor(y1 * sy + 0.5)),
                len(boxes),
                txt,
            )
        )
    return dropped


# v56: built-in metrics for the classic core fonts (public Adobe AFM
# data — Helvetica.afm / Times-Roman.afm; Courier is fixed-pitch 600).
# ASCII 32..126 advance widths in 1000-unit glyph space, listed in code
# order. Bold/oblique variants have DIFFERENT AFMs and keep the
# heuristic (pinned — no guessed metrics); all four Courier faces are
# 600 flat, so the whole family is safe.
_AFM_HELVETICA = (
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278,
    333, 278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556,
    278, 278, 584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611,
    778, 722, 278, 500, 667, 556, 833, 722, 778, 667, 778, 722, 667,
    611, 722, 667, 944, 667, 667, 611, 278, 278, 278, 469, 556, 333,
    556, 556, 500, 556, 556, 278, 556, 556, 222, 222, 500, 222, 833,
    556, 556, 556, 556, 333, 500, 278, 556, 500, 722, 500, 500, 500,
    334, 260, 334, 584,
)
_AFM_TIMES = (
    250, 333, 408, 500, 500, 833, 778, 180, 333, 333, 500, 564, 250,
    333, 250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500,
    278, 278, 564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556,
    722, 722, 333, 389, 722, 611, 889, 722, 722, 556, 722, 667, 556,
    611, 722, 722, 944, 722, 722, 611, 333, 278, 333, 469, 500, 333,
    444, 500, 444, 500, 444, 333, 500, 500, 278, 278, 500, 278, 778,
    500, 500, 500, 500, 333, 389, 278, 500, 500, 722, 500, 500, 444,
    480, 200, 480, 541,
)
_COURIER_NAMES = frozenset((
    "Courier", "Courier-Bold", "Courier-Oblique", "Courier-BoldOblique",
))


def _std14_widths(fbody: str):
    """Built-in core-font width entry (v56): a font with NO usable
    explicit table whose /BaseFont (subset ``ABCDEF+`` prefix stripped)
    is exactly Helvetica, Times-Roman, or a Courier face takes the AFM
    table over ASCII 32..126; unmapped codes fall to 0 (the v25
    MissingWidth default). Explicit /Widths always wins."""
    nm = _key_name(fbody, "/BaseFont")
    if nm is None:
        return None
    if len(nm) > 7 and nm[6] == "+" and nm[:6].isalpha() and nm[:6].isupper():
        nm = nm[7:]  # subset prefix
    if nm in _COURIER_NAMES:
        wtab = [0.0] * 256
        for c in range(32, 127):
            wtab[c] = 0.6
        return tuple(wtab), 0.0
    afm = (
        _AFM_HELVETICA
        if nm == "Helvetica"
        else _AFM_TIMES
        if nm == "Times-Roman"
        else None
    )
    if afm is None:
        return None
    wtab = [0.0] * 256
    for i, w in enumerate(afm):
        wtab[32 + i] = w / 1000.0
    return tuple(wtab), 0.0


def _widths_entry(text: str, objs: dict, vobjs: dict, fbody: str):
    """``/FirstChar`` + ``/Widths`` (+ ``/FontDescriptor /MissingWidth``)
    → (256-entry unit-width table, multi-byte/out-of-range fallback), or
    None when the font carries no usable table (SPEC §3b Advance widths,
    v25; ISO 32000 §9.7.4). The array may be inline or a ref to a direct
    or ObjStm-contained object whose body is the array; any non-number
    token before ``]``, an unterminated array, > 4096 entries, or a
    missing/malformed ``/FirstChar`` degrades to no table."""
    fc = _key_int(fbody, "/FirstChar")
    if fc is None:
        return None
    k = fbody.find("/Widths")
    if k < 0:
        return None
    after = k + len("/Widths")
    if after < len(fbody) and fbody[after] not in _WS and fbody[after] not in _DELIM:
        return None
    j = _skip_ws(fbody, after)
    if fbody[j : j + 1] == "[":
        arr = fbody
    else:
        num, _ = _read_ref(fbody, after)
        if num is None:
            return None
        ob = _obj_body(text, objs, vobjs, num)
        if ob is None:
            return None
        j = _skip_ws(ob, 0)
        if ob[j : j + 1] != "[":
            return None
        arr = ob
    ws: List[float] = []
    j += 1
    n = len(arr)
    while True:
        j = _skip_ws(arr, j)
        if j >= n:
            return None  # unterminated array
        if arr[j] == "]":
            break
        m = _RUN_RE.match(arr, j)
        if m is None or not _NUM_RE.match(m.group(0)):
            return None
        ws.append(float(m.group(0)))
        if len(ws) > 4096:
            return None
        j = m.end()
    # v43: Type3 glyph space is defined by /FontMatrix (ISO 32000
    # §9.6.5), not the simple-font 1/1000 convention — the horizontal
    # advance of a glyph of width w is w·a (the matrix's first element;
    # b/c skews do not move the advance point horizontally in the
    # common upright case and are ignored, pinned). A missing or
    # degenerate (a == 0) FontMatrix degrades to the 1/1000 scale.
    # /MissingWidth is a FontDescriptor glyph-space quantity (§9.8.1)
    # and takes the same scale.
    scale = 0.001
    if _key_name(fbody, "/Subtype") == "Type3":
        fm = _key_num_array(fbody, "/FontMatrix", 6)
        if fm is not None and fm[0] != 0.0:
            scale = fm[0]
    miss = 0.0
    fd = _key_ref(fbody, "/FontDescriptor")
    if fd is not None:
        fdb = _obj_body(text, objs, vobjs, fd)
        if fdb is not None:
            mw = _key_int(fdb, "/MissingWidth")
            if mw is not None:
                miss = mw * scale
    wtab = [miss] * 256
    for i, w in enumerate(ws):
        c = fc + i
        if 0 <= c <= 255:
            wtab[c] = w * scale
    return tuple(wtab), miss


def _wnum(arr: str, j: int):
    """Next /W-array token at ``j``: (value, index-after, tag) with tag
    ``"n"`` number / ``"["`` / ``"]"`` (index AT the bracket) / ``""``
    anything else or end-of-string."""
    j = _skip_ws(arr, j)
    if j >= len(arr):
        return None, j, ""
    ch = arr[j]
    if ch == "]" or ch == "[":
        return None, j, ch
    m = _RUN_RE.match(arr, j)
    tok = m.group(0)
    if not tok or not _NUM_RE.match(tok):
        return None, j, ""
    return float(tok), m.end(), "n"


def _cid_widths_entry(text: str, objs: dict, vobjs: dict, fbody: str):
    """``/DescendantFonts`` → descendant CIDFont ``/W`` + ``/DW`` →
    ({code: unit width}, default unit width), or None when no descendant
    resolves OR the /W value is malformed (SPEC §3b CID width arrays,
    v33; ISO 32000 §9.7.4.3). ``/W`` ABSENT on a resolved descendant is
    a usable ({}, dw) entry — ISO applies /DW (default 1000) to every
    glyph of a CIDFont. Group forms ``c [w …]`` and ``c1 c2 w``; later
    assignments override; > 65536 covered codes (counting repeats)
    refuses the entry."""
    k = fbody.find("/DescendantFonts")
    if k < 0:
        return None
    after = k + len("/DescendantFonts")
    if after < len(fbody) and fbody[after] not in _WS and fbody[after] not in _DELIM:
        return None
    j = _skip_ws(fbody, after)
    if fbody[j : j + 1] == "[":
        arr, j = fbody, j + 1
    else:
        num, _ = _read_ref(fbody, after)
        if num is None:
            return None
        ob = _obj_body(text, objs, vobjs, num)
        if ob is None:
            return None
        j = _skip_ws(ob, 0)
        if ob[j : j + 1] != "[":
            return None
        arr, j = ob, j + 1
    dnum, _ = _read_ref(arr, j)
    if dnum is None:
        return None
    desc = _obj_body(text, objs, vobjs, dnum)
    if desc is None:
        return None
    dw = _key_int(desc, "/DW")
    dwu = (1000 if dw is None else dw) / 1000.0
    k2 = desc.find("/W")
    if k2 < 0:
        return {}, dwu
    after2 = k2 + 2
    if after2 < len(desc) and desc[after2] not in _WS and desc[after2] not in _DELIM:
        return {}, dwu  # longer name first (/WMode, /Widths) = /W absent
    j2 = _skip_ws(desc, after2)
    if desc[j2 : j2 + 1] == "[":
        warr, j2 = desc, j2 + 1
    else:
        wnum, _ = _read_ref(desc, after2)
        if wnum is None:
            return None
        wb = _obj_body(text, objs, vobjs, wnum)
        if wb is None:
            return None
        j2 = _skip_ws(wb, 0)
        if wb[j2 : j2 + 1] != "[":
            return None
        warr, j2 = wb, j2 + 1
    wmap: dict = {}
    covered = 0
    while True:
        v, j2, t = _wnum(warr, j2)
        if t == "]":
            break
        if t != "n":
            return None  # unterminated / junk at group level
        if v != int(v) or not (0.0 <= v <= 65535.0):
            return None
        c1 = int(v)
        v2, j3, t2 = _wnum(warr, j2)
        if t2 == "[":
            j2 = j3 + 1
            i = 0
            while True:
                w, j2, t3 = _wnum(warr, j2)
                if t3 == "]":
                    j2 += 1
                    break
                if t3 != "n":
                    return None
                covered += 1
                if covered > 65536:
                    return None
                c = c1 + i
                if c <= 65535:
                    wmap[c] = w / 1000.0
                i += 1
        elif t2 == "n":
            if v2 != int(v2) or not (0.0 <= v2 <= 65535.0):
                return None
            c2 = int(v2)
            if c2 < c1:
                return None
            w, j2, t3 = _wnum(warr, j3)
            if t3 != "n":
                return None
            covered += c2 - c1 + 1
            if covered > 65536:
                return None
            wu = w / 1000.0
            for c in range(c1, c2 + 1):
                wmap[c] = wu
        else:
            return None  # dangling group
    return wmap, dwu


def _cid_w2_entry(text: str, objs: dict, vobjs: dict, fbody: str):
    """``/DescendantFonts`` → descendant CIDFont ``/W2`` + ``/DW2`` →
    ({code: downward advance in em units}, default), or None when
    malformed / no descendant (v60; ISO 32000 §9.7.4.3 Table 117).
    Vertical metrics: w1y is NEGATIVE for downward text — the advance
    magnitude used is ``-w1y/1000``; /DW2 default [880 -1000] → 1.0 em.
    Position vectors (v1x v1y per glyph in both forms) are consumed and
    IGNORED (pinned — the box model anchors at the pen)."""
    k = fbody.find("/DescendantFonts")
    if k < 0:
        return None
    after = k + len("/DescendantFonts")
    if after < len(fbody) and fbody[after] not in _WS and fbody[after] not in _DELIM:
        return None
    j = _skip_ws(fbody, after)
    if fbody[j : j + 1] == "[":
        arr, j = fbody, j + 1
    else:
        num, _ = _read_ref(fbody, after)
        if num is None:
            return None
        ob = _obj_body(text, objs, vobjs, num)
        if ob is None:
            return None
        j = _skip_ws(ob, 0)
        if ob[j : j + 1] != "[":
            return None
        arr, j = ob, j + 1
    dnum, _ = _read_ref(arr, j)
    if dnum is None:
        return None
    desc = _obj_body(text, objs, vobjs, dnum)
    if desc is None:
        return None
    dw2u = 1.0
    has_vert = False
    k0 = desc.find("/DW2")
    if k0 >= 0:
        a0 = k0 + 4
        if a0 >= len(desc) or desc[a0] in _WS or desc[a0] in _DELIM:
            j0 = _skip_ws(desc, a0)
            if desc[j0 : j0 + 1] == "[":
                j0 += 1
                _vy, j0, t0 = _wnum(desc, j0)
                w1, _j1, t1 = _wnum(desc, j0)
                if t0 == "n" and t1 == "n":
                    dw2u = -w1 / 1000.0
                    has_vert = True
                else:
                    return None
    k2 = desc.find("/W2")
    if k2 < 0:
        # no /W2 and no usable /DW2 → no vertical metrics at all: None
        # keeps the exact pre-v60 default-advance float path
        return ({}, dw2u) if has_vert else None
    after2 = k2 + 3
    if after2 < len(desc) and desc[after2] not in _WS and desc[after2] not in _DELIM:
        # longer name = /W2 absent (same rule as the /W walk)
        return ({}, dw2u) if has_vert else None
    j2 = _skip_ws(desc, after2)
    if desc[j2 : j2 + 1] == "[":
        warr, j2 = desc, j2 + 1
    else:
        wnum, _ = _read_ref(desc, after2)
        if wnum is None:
            return None
        wb = _obj_body(text, objs, vobjs, wnum)
        if wb is None:
            return None
        j2 = _skip_ws(wb, 0)
        if wb[j2 : j2 + 1] != "[":
            return None
        warr, j2 = wb, j2 + 1
    wmap: dict = {}
    covered = 0
    while True:
        v, j2, t = _wnum(warr, j2)
        if t == "]":
            break
        if t != "n":
            return None
        if v != int(v) or not (0.0 <= v <= 65535.0):
            return None
        c1 = int(v)
        v2, j3, t2 = _wnum(warr, j2)
        if t2 == "[":
            j2 = j3 + 1
            vals: List[float] = []
            while True:
                w, j2, t3 = _wnum(warr, j2)
                if t3 == "]":
                    j2 += 1
                    break
                if t3 != "n":
                    return None
                vals.append(w)
                if len(vals) > 3 * 65536:
                    return None
            if len(vals) % 3:
                return None  # triples: w1y v1x v1y per glyph
            for i in range(0, len(vals), 3):
                covered += 1
                if covered > 65536:
                    return None
                c = c1 + i // 3
                if c <= 65535:
                    wmap[c] = -vals[i] / 1000.0
        elif t2 == "n":
            if v2 != int(v2) or not (0.0 <= v2 <= 65535.0):
                return None
            c2 = int(v2)
            if c2 < c1:
                return None
            w, j2, t3 = _wnum(warr, j3)
            if t3 != "n":
                return None
            _vx, j2, t4 = _wnum(warr, j2)
            _vy2, j2, t5 = _wnum(warr, j2)
            if t4 != "n" or t5 != "n":
                return None
            covered += c2 - c1 + 1
            if covered > 65536:
                return None
            wu = -w / 1000.0
            for c in range(c1, c2 + 1):
                wmap[c] = wu
        else:
            return None
    return wmap, dw2u


def _font_table(text: str, objs: dict, vobjs: dict, res):
    """Resolved /Resources dict body → {font name: (cmap entry, widths
    entry)} via /Font (inline dict or ref) → per-entry font object →
    /ToUnicode stream decoded through its own filters; a font without a
    usable ToUnicode falls back to an /Encoding /Differences table (v13 —
    ToUnicode wins when both parse, matching §9.10.2's text extraction
    preference order). v25: a /FirstChar + /Widths pair rides alongside
    as a per-code advance-width table. Callers resolve /Resources first:
    the page path walks the /Parent chain (v15), the form path uses the
    form's own params. Every failure degrades to identity / the
    average-width rule (entry or component absent), never raises."""
    if res is None:
        return {}
    fdict = _key_dict_body(res, "/Font", text, objs, vobjs)
    if fdict is None:
        return {}
    fonts = {}
    for nm, num in _name_ref_pairs(fdict):
        fbody = _obj_body(text, objs, vobjs, num)
        if fbody is None:
            continue
        tref = _key_ref(fbody, "/ToUnicode")
        # an ObjStm-contained object cannot be a stream → no CMap from vobjs
        cm = None
        if tref is not None and tref not in vobjs and tref in objs:
            cm = _cmap_from_stream_object(text, objs[tref])
        if cm is None and "/Encoding" in fbody:
            cm = _differences_entry(text, objs, vobjs, fbody)
        # v33: a usable descendant-CIDFont /W entry wins; refused or
        # absent → the v25 /FirstChar + /Widths table
        wd = (
            _cid_widths_entry(text, objs, vobjs, fbody)
            if "/DescendantFonts" in fbody
            else None
        )
        if wd is None and "/Widths" in fbody:
            wd = _widths_entry(text, objs, vobjs, fbody)
        if wd is None and "/BaseFont" in fbody:
            # v56: core-font built-in metrics (explicit tables win)
            wd = _std14_widths(fbody)
        # v60: a vertical font's /W2 table REPLACES the widths slot (a
        # horizontal table never applies vertically — the v53 pin); the
        # 3rd element tags it so the vertical flush knows to use the
        # per-code accounting
        if (
            cm is not None
            and cm[0] in _VERT_KINDS
            and "/DescendantFonts" in fbody
        ):
            w2 = _cid_w2_entry(text, objs, vobjs, fbody)
            if w2 is not None:
                wd = (w2[0], w2[1], "v")
        if cm is not None or wd is not None:
            fonts[nm] = (cm, wd)
    return fonts


def _off_ocgs(text: str, objs: dict, vobjs: dict) -> frozenset:
    """OFF-by-default OCG object numbers (SPEC §3b Optional content,
    v36; ISO 32000 §8.11.4.3): /OCProperties → /D → /OFF [refs]. Any
    failure → empty set (everything renders)."""
    ocp = _key_dict_body(text, "/OCProperties", text, objs, vobjs)
    if ocp is None:
        return frozenset()
    d = _key_dict_body(ocp, "/D", text, objs, vobjs)
    if d is None:
        return frozenset()
    k = d.find("/OFF")
    if k < 0:
        return frozenset()
    after = k + len("/OFF")
    if after < len(d) and d[after] not in _WS and d[after] not in _DELIM:
        return frozenset()
    j = _skip_ws(d, after)
    if d[j : j + 1] != "[":
        return frozenset()
    return frozenset(_read_ref_list(d, j))


def _oc_hidden_names(
    text: str, objs: dict, vobjs: dict, res, off: frozenset
) -> frozenset:
    """Resources /Properties → the set of property NAMES whose optional-
    content group (or OCMD) is OFF (SPEC §3b Optional content, v36).
    A body with a token-exact /OCGs is an OCMD: hidden iff its ref list
    (single ref or inline array) is non-empty and every member is OFF —
    the /AnyOn default policy. A plain OCG hides iff its own number is
    OFF. Resolution failures render (never hide)."""
    if res is None or not off:
        return frozenset()
    pdict = _key_dict_body(res, "/Properties", text, objs, vobjs)
    if pdict is None:
        return frozenset()
    hidden = set()
    for nm, num in _name_ref_pairs(pdict):
        body = _obj_body(text, objs, vobjs, num)
        if body is None:
            continue
        k = body.find("/OCGs")
        if k >= 0 and (
            k + 5 >= len(body)
            or body[k + 5] in _WS
            or body[k + 5] in _DELIM
        ):
            j = _skip_ws(body, k + 5)
            if body[j : j + 1] == "[":
                refs = _read_ref_list(body, j)
            else:
                r, _ = _read_ref(body, k + 5)
                refs = [r] if r is not None else []
            if refs and all(r in off for r in refs):
                hidden.add(nm)
        elif num in off:
            hidden.add(nm)
    return frozenset(hidden)


def _xobject_table(text: str, objs: dict, vobjs: dict, res) -> dict:
    """Resolved /Resources dict body → {xobject name: object number} via
    /XObject (SPEC §3b Form XObjects, v9). Pure name→number: the target
    is validated lazily at ``Do`` time by the form resolver."""
    if res is None:
        return {}
    xdict = _key_dict_body(res, "/XObject", text, objs, vobjs)
    if xdict is None:
        return {}
    return dict(_name_ref_pairs(xdict))


def _subtype_name(params: str) -> Optional[str]:
    """The FIRST ``/Subtype`` name in ``params`` (token-exact key, ws*,
    ``/name`` value), or None."""
    k = params.find("/Subtype")
    if k < 0:
        return None
    after = k + len("/Subtype")
    if after < len(params) and params[after] not in _WS and params[after] not in _DELIM:
        return None
    i = _skip_ws(params, after)
    if params[i : i + 1] != "/":
        return None
    nm, _ = _read_name_token(params, i)
    return nm


def _subtype_is(params: str, name: str) -> bool:
    """True when the FIRST ``/Subtype`` in ``params`` (token-exact) is
    followed (ws*) by the exact name ``/name``."""
    return _subtype_name(params) == name


# Annotation subtypes whose /Contents is extractable comment text (SPEC
# §3b Annotations v28; ISO 32000 §12.5.6 markup annotations + FreeText).
# /Popup is deliberately ABSENT: a popup's /Contents duplicates its parent
# markup annotation's (§12.5.6.14) — extracting both would double the text.
# /Link is absent too (its /Contents is an alternate description, not page
# text); /Widget stays a separate /V dispatch.
_ANNOT_TEXT_SUBTYPES = frozenset((
    "FreeText", "Text", "Highlight", "Underline", "Squiggly", "StrikeOut",
    "Caret", "Ink", "Square", "Circle", "Polygon", "PolyLine", "Stamp",
    "FileAttachment",
))


def _key_num_array(body: str, key: str, count: int) -> Optional[List[float]]:
    """``/Key [ n1 .. nK ]`` at the key's FIRST token-exact occurrence —
    exactly ``count`` ws-separated numbers inside the brackets; None on
    absence/malformation (shared scan of /Matrix and /MediaBox)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return None
    i = _skip_ws(body, after)
    if body[i : i + 1] != "[":
        return None
    i += 1
    vals: List[float] = []
    n = len(body)
    for _ in range(count):
        i = _skip_ws(body, i)
        j = i
        while j < n and body[j] not in _WS and body[j] not in _DELIM:
            j += 1
        if j == i or not _NUM_RE.match(body[i:j]):
            return None
        vals.append(float(body[i:j]))
        i = j
    i = _skip_ws(body, i)
    if body[i : i + 1] != "]":
        return None
    return vals


_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _matrix6(params: str) -> Tuple[float, float, float, float, float, float]:
    """Full ``/Matrix [ a b c d e f ]`` at its first token-exact
    occurrence (SPEC §3b Graphics state, v20: the form matrix composes
    with the invoker's CTM at Do time — the ISO 32000 §8.10.1 rule,
    replacing the v9 translation-only pin). Absent/malformed → identity
    (the _IDENT singleton, so the interpreter's fast path applies)."""
    vals = _key_num_array(params, "/Matrix", 6)
    if vals is None:
        return _IDENT
    return (vals[0], vals[1], vals[2], vals[3], vals[4], vals[5])


def _compose(m, ctm):
    """Affine composition ``m × ctm`` (row-vector convention: a point maps
    through ``m`` first, then ``ctm`` — ISO 32000 §8.3.4). Returns the
    _IDENT singleton when both inputs are it, preserving the fast path."""
    if m is _IDENT:
        return ctm
    if ctm is _IDENT:
        return m
    ma, mb, mc, md, me, mf = m
    ca, cb, cc, cd, ce, cf = ctm
    return (
        ma * ca + mb * cc,
        ma * cb + mb * cd,
        mc * ca + md * cc,
        mc * cb + md * cd,
        me * ca + mf * cc + ce,
        me * cb + mf * cd + cf,
    )


def _key_mediabox(body: str) -> Optional[Tuple[float, float]]:
    """Page-local ``/MediaBox [ a b c d ]`` → (w, h) with positive extent,
    else None (SPEC §3b Per-page geometry, v10)."""
    vals = _key_num_array(body, "/MediaBox", 4)
    if vals is None:
        return None
    w, h = vals[2] - vals[0], vals[3] - vals[1]
    if w > 0 and h > 0:
        return w, h
    return None


def _key_cropbox(body: str) -> Optional[Tuple[float, float, float, float]]:
    """Page-local ``/CropBox [ a b c d ]`` → the raw rect with positive
    extent, else None — a degenerate value is "not present here", the walk
    continues, mirroring the MediaBox rule (SPEC §3b CropBox, v19)."""
    vals = _key_num_array(body, "/CropBox", 4)
    if vals is None:
        return None
    if vals[2] - vals[0] > 0 and vals[3] - vals[1] > 0:
        return vals[0], vals[1], vals[2], vals[3]
    return None


_GEO_MAX_HOPS = 16


def _page_geometry(text: str, objs: dict, vobjs: dict, body: str,
                   dflt: Tuple[float, float], want_crop: bool = False):
    """(page_w, page_h, rotate, crop_x, crop_y) for one page body,
    resolved up the /Parent chain (SPEC §3b Per-page geometry, v10;
    CropBox, v19): each attribute takes its first resolvable value walking
    page → ancestors (≤ 16 hops, re-visited ref ends the walk); /Rotate
    must be a plain non-negative integer and normalizes mod 360 to
    {0, 90, 180, 270} (else 0); MediaBox falls back to the document
    default. A resolvable /CropBox (positive raw extent — degenerate
    values are "not present here", the walk continues) is clipped to
    [0, mb_w]×[0, mb_h] (the subset treats the MediaBox origin as 0, the
    v1 rule); a non-positive clipped extent ignores the crop. With a
    crop, page extent = the clipped crop's and (crop_x, crop_y) is the
    viewport origin every user-space coordinate shifts by. ``want_crop``
    gates the extra walk so payloads with no /CropBox literal pay
    nothing."""
    mb = None
    rot = None
    crop = None
    cur = body
    visited = set()
    for _ in range(_GEO_MAX_HOPS + 1):
        if mb is None:
            mb = _key_mediabox(cur)
        if rot is None:
            rot = _key_int(cur, "/Rotate")
        if want_crop and crop is None:
            crop = _key_cropbox(cur)
        if mb is not None and rot is not None and (not want_crop or crop is not None):
            break
        pref = _key_ref(cur, "/Parent")
        if pref is None or pref in visited:
            break
        visited.add(pref)
        nxt = _obj_body(text, objs, vobjs, pref)
        if nxt is None:
            break
        cur = nxt
    if mb is None:
        mb = dflt
    r = (rot or 0) % 360
    if r not in (90, 180, 270):
        r = 0
    if crop is not None:
        cx, cy = max(crop[0], 0.0), max(crop[1], 0.0)
        cw = min(crop[2], mb[0]) - cx
        ch = min(crop[3], mb[1]) - cy
        if cw > 0 and ch > 0:
            return cw, ch, r, cx, cy
    return mb[0], mb[1], r, 0.0, 0.0


_FORM_MAX_DEPTH = 8
_GSTACK_MAX = 64  # q-nesting cap (v20): pushes past it are counted, their
# matching Q absorbed without restoring — balance survives hostile streams


def _make_form_resolver(
    text: str, objs: dict, vobjs: dict, off: frozenset = frozenset()
):
    """Object number → (content, fonts, xobjects, /Matrix 6-tuple,
    hidden optional-content names — v36) for
    /Subtype /Form stream objects, or None (SPEC §3b Form XObjects, v9;
    the full matrix since v20 — it composes with the CTM at Do): direct
    objects only, stream decoded through its own filter chain, resources
    from the form's OWN parameter dict. Memoized — resolution is purely a
    function of the payload, so the cache is semantically invisible."""
    cache: dict = {}

    def resolve(num: int):
        if num in cache:
            return cache[num]
        cache[num] = None  # pre-seed: failures and re-entries resolve None
        if num in vobjs or num not in objs:
            return None
        body = text[objs[num][0] : objs[num][1]]
        k = body.find("stream")
        if k < 0:
            return None
        after = k + 6
        if body[after : after + 2] == "\r\n":
            cstart = after + 2
        elif body[after : after + 1] == "\n":
            cstart = after + 1
        else:
            return None
        end = body.find("endstream", cstart)
        if end < 0:
            return None
        params = body[:k]
        if not _subtype_is(params, "Form"):
            return None
        content = body[cstart:end]
        if "/Filter" in params:
            names = _parse_filter_names(params)
            if names is None:
                return None
            fparms = _parse_decode_parms(params, len(names))
            if fparms is None:
                return None
            content = apply_stream_filters(content, names, fparms)
            if content is None:
                return None
        res_f = _key_dict_body(params, "/Resources", text, objs, vobjs)
        # v49: the form /BBox clips its content (ISO §8.10.1 — BBox is a
        # required form entry; content outside it never paints). Stored
        # normalized; absent/malformed → None → no clipping (degrade).
        bb = _key_num_array(params, "/BBox", 4)
        bbox = (
            (min(bb[0], bb[2]), min(bb[1], bb[3]),
             max(bb[0], bb[2]), max(bb[1], bb[3]))
            if bb is not None
            else None
        )
        entry = (
            content,
            _font_table(text, objs, vobjs, res_f),
            _xobject_table(text, objs, vobjs, res_f),
            _matrix6(params),
            _oc_hidden_names(text, objs, vobjs, res_f, off),
            bbox,
        )
        cache[num] = entry
        return entry

    return resolve


def _cmap_from_stream_object(text: str, span: Tuple[int, int]):
    """Decode the stream inside an object extent through its own /Filter
    chain and parse it as a CMap; None on any failure."""
    body = text[span[0] : span[1]]
    k = body.find("stream")
    if k < 0:
        return None
    after = k + 6
    if body[after : after + 2] == "\r\n":
        cstart = after + 2
    elif body[after : after + 1] == "\n":
        cstart = after + 1
    else:
        return None
    end = body.find("endstream", cstart)
    if end < 0:
        return None
    content = body[cstart:end]
    params = body[:k]
    if "/Filter" in params:
        names = _parse_filter_names(params)
        if names is None:
            return None
        fparms = _parse_decode_parms(params, len(names))
        if fparms is None:
            return None
        decoded = apply_stream_filters(content, names, fparms)
        if decoded is None:
            return None
        content = decoded
    return _parse_cmap(content)


def _apply_cmap(s: str, entry) -> str:
    """Map a show-string through the current font's CMap: longest code
    first; unmapped positions (and chars above U+00FF) pass through
    identity one char at a time."""
    if entry is None:
        return s
    cmap, lengths, xlate = entry
    if type(cmap) is str:  # v31: identity 2-byte (/Identity-H, -V)
        if cmap.startswith("U32"):  # v62: 4-byte code points
            return _u32_decode(s)
        if cmap[0] == "U":  # v61: UTF-16 pair combining
            return _u16_decode(s)
        return _id2_decode(s)
    if xlate is not None:
        return s.translate(xlate)
    out: List[str] = []
    i, n = 0, len(s)
    while i < n:
        hit = None
        if ord(s[i]) <= 0xFF:
            for nb in lengths:
                if i + nb > n:
                    continue
                code = 0
                ok = True
                for c in s[i : i + nb]:
                    o = ord(c)
                    if o > 0xFF:
                        ok = False
                        break
                    code = (code << 8) | o
                if not ok:
                    continue
                hit = cmap.get((code, nb))
                if hit is not None:
                    out.append(hit)
                    i += nb
                    break
        if hit is None:
            out.append(s[i])
            i += 1
    return "".join(out)


def _read_literal(s: str, i: int) -> Tuple[str, int, bool]:
    """Read a literal string starting at the '(' at ``i``.
    Returns (decoded, index-after-')', terminated?). Plain runs between
    the special chars ``\\ ( )`` copy as slices (regex search per special
    char instead of a per-char scan — same decode, C-speed common case)."""
    out: List[str] = []
    depth = 1
    i += 1
    n = len(s)
    search = _LIT_SPECIAL_RE.search
    while i < n:
        m = search(s, i)
        if m is None:
            tail = s[i:]
            if "\r" in tail:  # v47: raw EOLs read as LF (ISO §7.3.4.2)
                tail = tail.replace("\r\n", "\n").replace("\r", "\n")
            out.append(tail)
            break
        j = m.start()
        if j > i:
            run = s[i:j]
            if "\r" in run:  # v47: raw EOLs read as LF (ISO §7.3.4.2)
                run = run.replace("\r\n", "\n").replace("\r", "\n")
            out.append(run)
        ch = s[j]
        if ch == "\\":
            if j + 1 >= n:
                break
            nxt = s[j + 1]
            if nxt in _ESC_MAP:
                out.append(_ESC_MAP[nxt])
                i = j + 2
            elif nxt in "()\\":
                out.append(nxt)
                i = j + 2
            elif nxt == "\n":
                i = j + 2  # line continuation
            elif nxt == "\r":
                # v47: \CR and \CRLF are line continuations too (ISO
                # §7.3.4.2 — the EOL after a backslash may be CR, LF,
                # or CRLF); the escaped \r ESC_MAP form above still
                # yields a literal CR byte, untouched by the raw-EOL
                # normalization (it never sits in a plain run).
                i = j + 2 + (1 if s[j + 2 : j + 3] == "\n" else 0)
            elif "0" <= nxt <= "7":
                k = j + 1
                while k < min(j + 4, n) and "0" <= s[k] <= "7":
                    k += 1
                out.append(chr(int(s[j + 1 : k], 8) % 256))
                i = k
            else:
                out.append(nxt)
                i = j + 2
        elif ch == "(":
            depth += 1
            out.append(ch)
            i = j + 1
        else:  # ')'
            depth -= 1
            if depth == 0:
                return "".join(out), j + 1, True
            out.append(ch)
            i = j + 1
    return "".join(out), len(s), False


def _read_hex(s: str, i: int) -> Tuple[str, int]:
    """Read a hex string starting at the '<' at ``i``; returns (decoded,
    index-after-'>'). Non-hex chars before the '>' are silently ignored
    (scanner leniency, unlike the byte-filter `_hex_decode` which fails);
    C-path: one regex sub to keep hex digits, fromhex, latin-1."""
    j = s.find(">", i + 1)
    end = len(s) if j < 0 else j
    digits = _NONHEX_RE.sub("", s[i + 1 : end])
    if len(digits) % 2:
        digits += "0"
    return bytes.fromhex(digits).decode("latin-1"), min(end + 1, len(s))


def _inline_image_skip(content: str, i: int, stack: list) -> int:
    """Skip inline-image data after an ``ID`` token (SPEC §3b Inline
    images, v8). ``i`` points just past the token; returns the resume
    index (``len(content)`` ends the scan — the no-terminator case).

    Exactly one whitespace char after the token is consumed; data starts
    there. A top-level ``/L`` or ``/Length`` name operand immediately
    followed by a non-negative-integer number operand (LAST such pair among
    the operands accumulated since the last dispatched operator; array
    contents excluded) gives an exact char count — the scan resumes right
    after the data, and the trailing ``EI`` tokenizes as an ordinary
    (ignored) operator. Without a usable length the data ends at the first
    ``EI`` that sits at the data start or after a whitespace char AND is
    followed by whitespace / a delimiter / end-of-content; the scan resumes
    AT that ``EI``. Image bytes are never interpreted: fake operators,
    strings, or ``BT`` sequences inside them are invisible to text state.
    """
    n = len(content)
    if i < n and content[i] in _WS:
        i += 1
    ln = -1
    for k in range(len(stack) - 1):
        tok, nxt = stack[k], stack[k + 1]
        if (
            isinstance(tok, tuple)
            and tok[0] == "n"
            and tok[1] in ("L", "Length")
            and isinstance(nxt, float)
            and nxt >= 0
            and nxt.is_integer()
        ):
            ln = int(nxt)
    if 0 <= ln and i + ln <= n:
        return i + ln
    j = i
    while True:
        j = content.find("EI", j)
        if j < 0:
            return n
        if (j == i or content[j - 1] in _WS) and (
            j + 2 == n or content[j + 2] in _WS or content[j + 2] in _DELIM
        ):
            return j
        j += 1


def _atext_decode(s: str) -> str:
    """/ActualText replacement text (SPEC §3b Marked content, v24; ISO
    32000 §14.8.2.2): a UTF-16BE-BOM string decodes byte pairs to code
    units with surrogate pairs combined; odd byte count, a lone
    surrogate, or a char above U+00FF degrades to the raw string. v40:
    a UTF-8-BOM string (EF BB BF — ISO 32000-2 §7.9.2.2.1, the PDF 2.0
    text-string form) decodes its remaining bytes as UTF-8; any char
    above U+00FF or an invalid byte sequence degrades to the raw
    string. No BOM = PDFDocEncoded, used as-is (subset rule)."""
    if s.startswith("\xef\xbb\xbf"):  # v40: PDF 2.0 UTF-8 text string
        bs = bytearray()
        for c in s[3:]:
            o = ord(c)
            if o > 0xFF:
                return s
            bs.append(o)
        try:
            return bytes(bs).decode("utf-8")
        except UnicodeDecodeError:
            return s
    if not s.startswith("\xfe\xff"):
        return s
    body = s[2:]
    if len(body) % 2:
        return s
    units = []
    for k in range(0, len(body), 2):
        hi, lo = ord(body[k]), ord(body[k + 1])
        if hi > 0xFF or lo > 0xFF:
            return s
        units.append(hi * 256 + lo)
    out: List[str] = []
    k = 0
    while k < len(units):
        u = units[k]
        if 0xD800 <= u <= 0xDBFF:
            if k + 1 >= len(units) or not (0xDC00 <= units[k + 1] <= 0xDFFF):
                return s  # lone high surrogate
            out.append(chr(0x10000 + ((u - 0xD800) << 10) + (units[k + 1] - 0xDC00)))
            k += 2
            continue
        if 0xDC00 <= u <= 0xDFFF:
            return s  # lone low surrogate
        out.append(chr(u))
        k += 1
    return "".join(out)


def _interpret(content: str, mb_w: float, mb_h: float,
               cfg: ExtractConfig, fonts: Optional[dict] = None,
               xobjs: Optional[dict] = None, resolver=None,
               off: Tuple[float, float] = (0.0, 0.0), depth: int = 0,
               chain: frozenset = frozenset(),
               boxes: Optional[List[Box]] = None,
               rot: int = 0,
               crop: Tuple[float, float] = (0.0, 0.0),
               ctm: Tuple[float, ...] = _IDENT,
               ocnames: frozenset = frozenset(),
               bbox: Optional[Tuple[float, float, float, float]] = None,
               ) -> Tuple[List[Box], int]:
    """One content stream → (line boxes in canonical top-left coordinates,
    n suppressed /Artifact show ops). ``fonts`` maps font names to CMap
    entries (SPEC §3b Fonts, v6): ``Tf`` switches the active map and
    show-strings decode through it (advance widths use the DECODED length,
    so an encoded page lays out exactly like its plain twin). ``xobjs`` +
    ``resolver`` drive ``Do`` form invocation (SPEC §3b Form XObjects, v9):
    forms interpret recursively with fresh text state, their own resource
    tables, user-space offset ``off`` + the form's /Matrix translation, and
    append into the SAME ``boxes`` list (line_idx continues in paint
    order); ``depth``/``chain`` enforce the depth-8 cap and cycle guard.
    ``rot`` is the page's display rotation (SPEC §3b Rotation
    canonicalization, v10): boxes canonicalize to the rotated view — what
    a renderer + OCR would see — via the corner-wise user→viewer map."""
    if rot in (90, 270):
        sx = cfg.page_w / mb_h
        sy = cfg.page_h / mb_w
    else:
        sx = cfg.page_w / mb_w
        sy = cfg.page_h / mb_h
    if boxes is None:
        boxes = []
    ox, oy = off
    # v19: CropBox viewport origin — every user-space coordinate shifts by
    # it before the rotation map; mb_w/mb_h are already the crop extent
    ox -= crop[0]
    oy -= crop[1]
    in_text = False
    x = y = 0.0
    leading = 0.0
    fontsize = 12.0
    charspace = 0.0  # Tc (v11); persists across BT like fontsize
    wordspace = 0.0  # Tw (v11)
    hscale = 100.0  # Tz percent (v12); scales the whole advance, ISO §9.3.4
    rise = 0.0  # Ts (v12); shifts the baseline at flush time, ISO §9.3.7
    suppressed = 0
    cur_map = None
    cur_wd = None  # v25: the active font's (unit-width table, fallback)
    # v25 advance accounting: units (Σ width/1000), glyphs (codes
    # consumed), spaces (codes == 32) accumulate per buffer alongside it;
    # with no width table they reduce to 0.5·len / len / count(" ") over
    # the decoded text — the v6/v11/v12 formula inputs, verbatim.
    acc_u = 0.0
    acc_g = 0
    acc_s = 0
    # v20 graphics state: q pushes (CTM + the §9.3.1 text-state params,
    # which ISO 32000 §8.4.2 places INSIDE the graphics state), Q pops.
    # Depth-capped: pushes past the cap are counted and their matching Q
    # is absorbed without restoring, so balance survives hostile streams.
    gstack: list = []
    gskip = 0
    # v24 marked content (SPEC §3b Marked content; ISO 32000 §14.6): a
    # per-interpretation level stack — NOT graphics state (q/Q never save
    # it), fresh per form. art_depth counts open /Artifact levels;
    # at_text/at_consumed carry the outermost active /ActualText
    # replacement and whether a show has emitted it yet.
    mc_stack: list = []
    art_depth = 0
    at_text: Optional[str] = None
    at_consumed = False
    fonts = fonts or {}
    xobjs = xobjs or {}
    buf: List[str] = []
    stack: list = []
    arr: list | None = None  # open [ ... ] capture

    # v49: form /BBox clipping (ISO §8.10.1) — a line whose baseline
    # START lies outside the form's BBox paints nothing. The test runs
    # in FORM space, i.e. only while the interior CTM is still the
    # entry CTM (an interior cm re-binds the tuple and disables the
    # test for lines drawn under it — pinned approximation; q/Q restore
    # the identical tuple, so balanced state save re-enables it).
    ctm0 = ctm
    # v51: clipping-path state (ISO §8.5.4) — ``x y w h re`` records the
    # path rect (LAST re of a path wins, pinned), ``W``/``W*`` marks
    # clip intent, and the path-painting operator that ends the path
    # (``n`` in the standard idiom, any painting op otherwise)
    # intersects the current clip. Rects drawn under a changed CTM are
    # unknown-space → None (the v49 entry-CTM rule). The clip is
    # graphics state: q/Q save/restore it. Fresh per interpretation —
    # the invoker's clip does not enter form space (pinned).
    clip = None
    path_rect = None
    clip_pending = False

    def flush() -> None:
        nonlocal buf, acc_u, acc_g, acc_s
        txt = "".join(buf)
        if (
            (bbox is not None or clip is not None)
            and ctm is ctm0
            and txt.strip()
        ):
            _px, _py = x, y + rise
            if (
                bbox is not None
                and not (bbox[0] <= _px <= bbox[2] and bbox[1] <= _py <= bbox[3])
            ) or (
                clip is not None
                and not (clip[0] <= _px <= clip[2] and clip[1] <= _py <= clip[3])
            ):
                txt = ""  # clipped: paints nothing (not counted —
                # geometry, not a suppressed show; the buffer still resets)
        if txt.strip():
            # v25: with no active width table the per-show accounting sums
            # telescope to the flush-time length formula EXACTLY (0.5 and
            # integer counts are exact floats), so the common case skips
            # per-show work and computes here; a widths buffer uses the
            # accumulated per-code counters. Tf and Q flush, so the active
            # table is constant across a buffer's life.
            # v53: Identity-V writes DOWN — with no vertical metrics the
            # per-glyph advance is the ISO default (1000 glyph units =
            # 1·fs) + Tc; Tw never applies (2-byte codes, the v38 rule),
            # Tz is horizontal-only (§9.3.4) and rise is ignored in
            # vertical mode (pinned); a horizontal /W table never applies
            # vertically — v60 /W2 + /DW2 metrics replace it.
            vmode = cur_map is not None and cur_map[0] in _VERT_KINDS
            if vmode:
                if cur_wd is not None and len(cur_wd) == 3:
                    # v60: /W2 per-code vertical advances (Tc per glyph;
                    # Tw/Tz never apply — the v53 rules stand)
                    adv = max(0.0, acc_u * fontsize + charspace * acc_g)
                else:
                    adv = max(0.0, (fontsize + charspace) * len(txt))
            elif cur_wd is None:
                adv = max(
                    0.0,
                    (
                        (0.5 * fontsize + charspace) * len(txt)
                        + wordspace * txt.count(" ")
                    )
                    * (hscale / 100.0),
                )
            else:
                adv = max(
                    0.0,
                    (acc_u * fontsize + charspace * acc_g + wordspace * acc_s)
                    * (hscale / 100.0),
                )
            if vmode and ctm is _IDENT:
                # v53: a descending column — fontsize wide, adv tall,
                # topped at the pen position
                u0, u1 = ox + x, ox + x + fontsize
                v0, v1 = oy + y - adv, oy + y
            elif vmode:
                ca, cb, cc, cd, ce, cf = ctm
                p0x = x * ca + y * cc + ce
                p0y = x * cb + y * cd + cf
                ey = y - adv
                p1x = x * ca + ey * cc + ce
                p1y = x * cb + ey * cd + cf
                v0 = oy + (p0y if p0y <= p1y else p1y)
                v1 = oy + (p0y if p0y > p1y else p1y)
                u0 = ox + (p0x if p0x <= p1x else p1x)
                u1 = u0 + fontsize * math.hypot(ca, cb)
            elif ctm is _IDENT:
                u0, u1 = ox + x, ox + x + adv
                v0, v1 = oy + y + rise, oy + y + rise + fontsize
            else:
                # v20: map the baseline run through the CTM (ISO §8.3.4,
                # row-vector p·CTM). The box is the axis-aligned anchor:
                # mapped start/end give the horizontal extent; height is
                # fontsize scaled by the image of the unit vertical vector
                # (exact for translate/scale, the pinned bound for rotate).
                ca, cb, cc, cd, ce, cf = ctm
                bx, by = x, y + rise
                p0x = bx * ca + by * cc + ce
                p0y = bx * cb + by * cd + cf
                ex = bx + adv
                p1x = ex * ca + by * cc + ce
                p1y = ex * cb + by * cd + cf
                u0 = ox + (p0x if p0x <= p1x else p1x)
                u1 = ox + (p0x if p0x > p1x else p1x)
                v0 = oy + (p0y if p0y <= p1y else p1y)
                v1 = v0 + fontsize * math.hypot(cc, cd)
            if rot == 90:
                x0, x1, y0, y1 = v0, v1, u0, u1
            elif rot == 180:
                x0, x1, y0, y1 = mb_w - u1, mb_w - u0, v0, v1
            elif rot == 270:
                x0, x1, y0, y1 = mb_h - v1, mb_h - v0, mb_w - u1, mb_w - u0
            else:
                x0, x1, y0, y1 = u0, u1, mb_h - v1, mb_h - v0
            boxes.append(
                (
                    int(math.floor(x0 * sx + 0.5)),
                    int(math.floor(y0 * sy + 0.5)),
                    int(math.floor(x1 * sx + 0.5)),
                    int(math.floor(y1 * sy + 0.5)),
                    len(boxes),
                    txt,
                )
            )
        buf = []
        acc_u = 0.0
        acc_g = 0
        acc_s = 0

    def emit_plain(txt: str) -> None:
        """Append text with identity accounting (0.5 units/char): the
        /ActualText replacement and TJ kern-space path (no codes). In the
        no-widths regime the flush formula covers it — plain append."""
        nonlocal acc_u, acc_g, acc_s
        buf.append(txt)
        if cur_wd is not None:
            acc_u += 0.5 * len(txt)
            acc_g += len(txt)
            acc_s += txt.count(" ")

    def emit_show(raw: str) -> None:
        """Append a show-string's decoded text accumulating per-code
        widths accounting — called ONLY when the active font carries a
        table (the no-widths regime appends directly and accounts at
        flush). A per-piece subtotal keeps float association identical
        to the oracle's per-piece sums."""
        nonlocal acc_u, acc_g, acc_s
        wtab, miss = cur_wd[0], cur_wd[1]  # v60: 3rd element = "v" tag
        # v33: a CID /W entry is a dict keyed by FULL code value (default
        # /DW); the v25 tuple keys 0..255 with the multi-byte fallback
        isd = type(wtab) is dict
        du = 0.0
        if cur_map is None or cur_map[2] is not None:
            # 1-byte code stream: identity or translate-fast-path CMap
            for c in raw:
                o = ord(c)
                du += (
                    wtab.get(o, miss)
                    if isd
                    else (wtab[o] if o <= 0xFF else miss)
                )
                if o == 32:
                    acc_s += 1
            acc_u += du
            acc_g += len(raw)
            buf.append(raw if cur_map is None else raw.translate(cur_map[2]))
            return
        # multi-byte CMap: consume codes exactly as _apply_cmap does
        cmapd, lengths, _x = cur_map
        if type(cmapd) is str and cmapd.startswith("U32"):
            # v62: 4-byte code points with a width table — one glyph per
            # code; BMP codes look up, astral take the default (the v61
            # pinned rule); invalid scalars decode U+FFFD
            out4: List[str] = []
            i4, n4 = 0, len(raw)
            while i4 < n4:
                if i4 + 3 < n4 and all(
                    ord(raw[i4 + k]) <= 0xFF for k in range(4)
                ):
                    code = (
                        (ord(raw[i4]) << 24)
                        | (ord(raw[i4 + 1]) << 16)
                        | (ord(raw[i4 + 2]) << 8)
                        | ord(raw[i4 + 3])
                    )
                    out4.append(
                        "�"
                        if code > 0x10FFFF or 0xD800 <= code <= 0xDFFF
                        else chr(code)
                    )
                    du += (
                        (
                            wtab.get(code, miss)
                            if isd
                            else (wtab[code] if code <= 0xFF else miss)
                        )
                        if code <= 0xFFFF
                        else miss
                    )
                    acc_g += 1
                    i4 += 4
                else:
                    o0 = ord(raw[i4])
                    out4.append(raw[i4])
                    du += (
                        wtab.get(o0, miss)
                        if isd
                        else (wtab[o0] if o0 <= 0xFF else miss)
                    )
                    acc_g += 1
                    if o0 == 32:
                        acc_s += 1
                    i4 += 1
            acc_u += du
            buf.append("".join(out4))
            return
        if type(cmapd) is str:  # v31: identity 2-byte with a width table
            u16 = cmapd[0] == "U"  # v61: surrogate pairs combine
            out2: List[str] = []
            i3, n3 = 0, len(raw)
            while i3 < n3:
                o0 = ord(raw[i3])
                if o0 <= 0xFF and i3 + 1 < n3 and ord(raw[i3 + 1]) <= 0xFF:
                    code = (o0 << 8) | ord(raw[i3 + 1])
                    if (
                        u16
                        and 0xD800 <= code <= 0xDBFF
                        and i3 + 3 < n3
                        and ord(raw[i3 + 2]) <= 0xFF
                        and ord(raw[i3 + 3]) <= 0xFF
                        and 0xDC00
                        <= ((ord(raw[i3 + 2]) << 8) | ord(raw[i3 + 3]))
                        <= 0xDFFF
                    ):
                        lo = (ord(raw[i3 + 2]) << 8) | ord(raw[i3 + 3])
                        out2.append(
                            chr(
                                0x10000
                                + ((code - 0xD800) << 10)
                                + (lo - 0xDC00)
                            )
                        )
                        # one GLYPH; astral codes take the default width
                        # (pinned — real UTF16 CMaps map pairs to CIDs
                        # this identity approximation cannot know)
                        du += miss
                        acc_g += 1
                        i3 += 4
                        continue
                    out2.append(
                        "�" if 0xD800 <= code <= 0xDFFF else chr(code)
                    )
                    du += (
                        wtab.get(code, miss)
                        if isd
                        else (wtab[code] if code <= 0xFF else miss)
                    )
                    acc_g += 1
                    # v38: a 2-byte 0x0020 takes NO word spacing (§9.3.3)
                    i3 += 2
                else:
                    out2.append(raw[i3])
                    du += (
                        wtab.get(o0, miss)
                        if isd
                        else (wtab[o0] if o0 <= 0xFF else miss)
                    )
                    acc_g += 1
                    if o0 == 32:
                        acc_s += 1
                    i3 += 1
            acc_u += du
            buf.append("".join(out2))
            return
        out: List[str] = []
        i2, n2 = 0, len(raw)
        while i2 < n2:
            hit = None
            o0 = ord(raw[i2])
            if o0 <= 0xFF:
                for nb in lengths:
                    if i2 + nb > n2:
                        continue
                    code = 0
                    ok = True
                    for c in raw[i2 : i2 + nb]:
                        o = ord(c)
                        if o > 0xFF:
                            ok = False
                            break
                        code = (code << 8) | o
                    if not ok:
                        continue
                    hit = cmapd.get((code, nb))
                    if hit is not None:
                        out.append(hit)
                        du += (
                            wtab.get(code, miss)
                            if isd
                            else (wtab[code] if code <= 0xFF else miss)
                        )
                        acc_g += 1
                        # v38: Tw applies to SINGLE-byte code 32 only
                        if code == 32 and nb == 1:
                            acc_s += 1
                        i2 += nb
                        break
            if hit is None:
                out.append(raw[i2])
                du += (
                    wtab.get(o0, miss)
                    if isd
                    else (wtab[o0] if o0 <= 0xFF else miss)
                )
                acc_g += 1
                if o0 == 32:
                    acc_s += 1
                i2 += 1
        acc_u += du
        buf.append("".join(out))

    def nums(k: int):
        """Last k operands iff all numeric, else None."""
        if len(stack) < k:
            return None
        tail = stack[-k:]
        if all(isinstance(v, float) for v in tail):
            return tail
        return None

    i, n = 0, len(content)
    while i < n:
        ch = content[i]
        if ch in _WS or ch in "{}":
            i += 1
            continue
        if ch == "%":
            j = content.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if ch == "(":
            val, i, ok = _read_literal(content, i)
            (arr if arr is not None else stack).append(("s", val))
            if not ok:
                break  # unterminated → end of content scan
            continue
        if ch == "<":
            if i + 1 < n and content[i + 1] == "<":
                i += 2
                continue
            val, i = _read_hex(content, i)
            (arr if arr is not None else stack).append(("s", val))
            continue
        if ch == ">":
            i += 2 if content[i : i + 2] == ">>" else 1
            continue
        if ch == "[":
            if arr is None:
                arr = []
            i += 1
            continue
        if ch == "]":
            if arr is not None:
                stack.append(("a", arr))
                arr = None
            i += 1
            continue
        if ch == "/":
            j = _RUN_RE.match(content, i + 1).end()
            (arr if arr is not None else stack).append(
                ("n", _name_unescape(content[i + 1 : j]))  # v48
            )
            i = j
            continue
        # regular-character run: number or operator
        j = _RUN_RE.match(content, i).end()
        if j == i:  # stray delimiter (e.g. an unmatched ')') — skip it
            i += 1
            continue
        tok = content[i:j]
        i = j
        if tok == "ID":  # inline image (v8): scanner-level data skip
            i = _inline_image_skip(content, i, stack)
            continue
        if _NUM_RE.match(tok):
            (arr if arr is not None else stack).append(float(tok))
            continue
        if arr is not None:
            continue  # operators inside an open array: ignored
        # --- operator dispatch ---
        if tok == "BT":
            if in_text:
                flush()
            in_text = True
            x = y = leading = 0.0
        elif tok == "Do":
            # form XObject invocation (SPEC §3b, v9): dispatches whether or
            # not a text object is open; no flush, invoker state untouched
            if (
                resolver is not None
                and depth < _FORM_MAX_DEPTH
                and stack
                and isinstance(stack[-1], tuple)
                and stack[-1][0] == "n"
            ):
                num = xobjs.get(stack[-1][1])
                if num is not None and num not in chain:
                    form = resolver(num)
                    if form is not None:
                        fc, ff, fx, fmat, focn, fbb = form
                        _b, sup = _interpret(
                            fc, mb_w, mb_h, cfg, ff, fx, resolver,
                            (ox, oy), depth + 1,
                            chain | {num}, boxes, rot,
                            ctm=_compose(fmat, ctm), ocnames=focn,
                            bbox=fbb,  # v49: the form clips to its BBox
                        )  # crop already folded into (ox, oy); the form
                        # /Matrix composes with the CTM at Do (v20)
                        suppressed += sup
        elif tok == "q":
            # v20: push the graphics state — CTM plus the §9.3.1 text-state
            # params (ISO §8.4.2 places text state inside graphics state).
            # No flush: q itself changes nothing the flush reads.
            if len(gstack) < _GSTACK_MAX:
                gstack.append((ctm, fontsize, cur_map, cur_wd,
                               charspace, wordspace, hscale, rise, leading,
                               clip))  # v51 clip
            else:
                gskip += 1
        elif tok == "Q":
            if gskip:
                gskip -= 1  # matches a capped push: absorbed, no restore
            elif gstack:
                if in_text:
                    flush()  # restore changes what flush reads
                (ctm, fontsize, cur_map, cur_wd, charspace,
                 wordspace, hscale, rise, leading, clip) = gstack.pop()
            # unbalanced Q (empty stack): inert — the pinned degrade
        elif tok == "cm":
            v = nums(6)
            if v:  # short/non-numeric operand lists: inert
                if in_text:
                    flush()
                ctm = _compose((v[0], v[1], v[2], v[3], v[4], v[5]), ctm)
        elif tok == "re":
            # v51: record the path rect (LAST re wins, pinned); a rect
            # drawn under a changed CTM is unknown-space → None
            v = nums(4)
            if v:
                if ctm is ctm0:
                    rx, ry, rw, rh = v
                    path_rect = (
                        min(rx, rx + rw), min(ry, ry + rh),
                        max(rx, rx + rw), max(ry, ry + rh),
                    )
                else:
                    path_rect = None
        elif tok == "W" or tok == "W*":
            clip_pending = True  # v51: applied by the path-paint op
        elif tok in ("n", "f", "F", "f*", "S", "s", "B", "B*", "b", "b*"):
            # v51: the painting op ends the path; a pending W intersects
            # the clip with the recorded rect (an empty intersection
            # clips everything — the inside test fails for all points).
            # W with no recorded rect: clip unchanged (pinned degrade).
            if clip_pending:
                if path_rect is not None:
                    if in_text:
                        flush()  # buffered text keeps ITS clip
                    clip = (
                        path_rect
                        if clip is None
                        else (
                            max(clip[0], path_rect[0]),
                            max(clip[1], path_rect[1]),
                            min(clip[2], path_rect[2]),
                            min(clip[3], path_rect[3]),
                        )
                    )
                clip_pending = False
            path_rect = None
        elif tok in ("BMC", "BDC"):
            # v24 marked content: tag = FIRST operand iff a name (inline
            # property-dict delimiters are invisible to the tokenizer, so
            # a BDC's stack reads `tag key₁ val₁ …`); no flush, in or out
            # of a text object like Do.
            tag = (
                stack[0][1]
                if stack and isinstance(stack[0], tuple) and stack[0][0] == "n"
                else None
            )
            atext = None
            if tok == "BDC":
                # replacement = string right after the LAST ActualText
                # name (the v8 inline-image /L pair rule)
                for k in range(len(stack) - 1):
                    if (
                        isinstance(stack[k], tuple)
                        and stack[k] == ("n", "ActualText")
                        and isinstance(stack[k + 1], tuple)
                        and stack[k + 1][0] == "s"
                    ):
                        atext = stack[k + 1][1]
            owns = False
            if atext is not None and at_text is None:
                at_text = _atext_decode(atext)  # outermost wins
                at_consumed = False
                owns = True
            is_art = tag == "Artifact"
            if not is_art and tag == "OC" and ocnames:
                # v36: an OFF optional-content level suppresses exactly
                # like /Artifact; the property must be the SECOND name
                # operand (inline dicts have no identity — render)
                if (
                    len(stack) >= 2
                    and isinstance(stack[1], tuple)
                    and stack[1][0] == "n"
                    and stack[1][1] in ocnames
                ):
                    is_art = True
            mc_stack.append((is_art, owns))
            if is_art:
                art_depth += 1
        elif tok == "EMC":
            if mc_stack:  # unbalanced EMC: inert (pinned degrade)
                is_art, owns = mc_stack.pop()
                if is_art:
                    art_depth -= 1
                if owns:
                    at_text = None
                    at_consumed = False
        elif in_text:
            if tok == "Tf":
                if stack and isinstance(stack[-1], float):
                    flush()
                    fontsize = stack[-1]
                    if (
                        len(stack) >= 2
                        and isinstance(stack[-2], tuple)
                        and stack[-2][0] == "n"
                    ):
                        ent = fonts.get(stack[-2][1])
                        cur_map, cur_wd = ent if ent else (None, None)
            elif tok == "Td":
                v = nums(2)
                if v:
                    flush()
                    x += v[0]
                    y += v[1]
            elif tok == "TD":
                v = nums(2)
                if v:
                    flush()
                    leading = -v[1]
                    x += v[0]
                    y += v[1]
            elif tok == "TL":
                if stack and isinstance(stack[-1], float):
                    leading = stack[-1]
            elif tok == "Tc":
                if stack and isinstance(stack[-1], float):
                    charspace = stack[-1]
            elif tok == "Tw":
                if stack and isinstance(stack[-1], float):
                    wordspace = stack[-1]
            elif tok == "Tz":
                if stack and isinstance(stack[-1], float):
                    hscale = stack[-1]
            elif tok == "Ts":
                if stack and isinstance(stack[-1], float):
                    rise = stack[-1]
            elif tok == "Tm":
                v = nums(6)
                if v:
                    flush()
                    x, y = v[4], v[5]
            elif tok == "T*":
                flush()
                y -= leading
            elif tok == "Tj":
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                    if art_depth:
                        suppressed += 1  # v24: /Artifact suppression
                    elif at_text is not None:
                        if not at_consumed:  # v24: first show emits the
                            emit_plain(at_text)  # /ActualText replacement
                            at_consumed = True
                    elif cur_wd is not None:
                        emit_show(stack[-1][1])
                    else:
                        buf.append(_apply_cmap(stack[-1][1], cur_map))
            elif tok in ("'", '"'):
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                    if (
                        tok == '"'
                        and len(stack) >= 3
                        and isinstance(stack[-3], float)
                        and isinstance(stack[-2], float)
                    ):
                        # aw ac string " ≡ aw Tw ac Tc string ' (ISO
                        # §9.4.3): the spacing persists and — because Tw/Tc
                        # set state without flushing — is in effect for the
                        # flush below (v13)
                        wordspace = stack[-3]
                        charspace = stack[-2]
                    flush()
                    y -= leading
                    if art_depth:
                        suppressed += 1  # v24: /Artifact suppression
                    elif at_text is not None:
                        if not at_consumed:
                            emit_plain(at_text)
                            at_consumed = True
                    elif cur_wd is not None:
                        emit_show(stack[-1][1])
                    else:
                        buf.append(_apply_cmap(stack[-1][1], cur_map))
            elif tok == "TJ":
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "a":
                    has_str = any(
                        isinstance(el, tuple) and el[0] == "s"
                        for el in stack[-1][1]
                    )
                    if art_depth:
                        if has_str:
                            suppressed += 1  # v24: /Artifact suppression
                    elif at_text is not None:
                        if has_str and not at_consumed:
                            emit_plain(at_text)
                            at_consumed = True
                    elif cur_wd is not None:
                        for el in stack[-1][1]:
                            if isinstance(el, tuple) and el[0] == "s":
                                emit_show(el[1])
                            elif isinstance(el, float) and el <= -180:
                                emit_plain(" ")
                    else:
                        piece = []
                        for el in stack[-1][1]:
                            if isinstance(el, tuple) and el[0] == "s":
                                piece.append(_apply_cmap(el[1], cur_map))
                            elif isinstance(el, float) and el <= -180:
                                piece.append(" ")
                        buf.append("".join(piece))
            elif tok == "ET":
                flush()
                in_text = False
        stack = []
    if in_text:
        flush()
    return boxes, suppressed


_CONTENTS_ARR_RE = re.compile(r"/Contents[\x00\t\n\x0c\r ]*\[")


def _kids_refs(body: str) -> list:
    """``/Kids [ N 0 R … ]`` at the FIRST token-exact occurrence: the
    referenced object numbers left-to-right until ``]`` or the first
    non-ref element (the `_contents_refs` array rule). `/Kids` is always
    an array per ISO 32000 §7.7.3.2 — a non-array value → empty (pinned)."""
    k = body.find("/Kids")
    if k < 0:
        return []
    after = k + len("/Kids")
    if after < len(body) and body[after] not in _WS and body[after] not in _DELIM:
        return []
    i = _skip_ws(body, after)
    if body[i : i + 1] != "[":
        return []
    i += 1
    refs = []
    while i < len(body):
        i = _skip_ws(body, i)
        if body[i : i + 1] == "]":
            break
        num, j = _read_ref(body, i)
        if num is None:
            break
        refs.append(num)
        i = j
    return refs


_TREE_MAX_NODES = 512
_TREE_MAX_DEPTH = 32


def _page_tree_order(text: str, objs: dict, vobjs: dict) -> Optional[list]:
    """Ordered page object numbers from the document's page tree (SPEC §3b
    Page tree, v21 — the ISO 32000 §7.7.3 logical page order; the
    reference renders pages in this order via its per-page loop,
    /root/reference/tools/infer/predict_system.py:212-224). The LAST
    token-exact ``/Root N 0 R`` anywhere names the catalog (incremental
    updates append new trailers — last-wins, consistent with the v16
    object map); the catalog's first ``/Pages`` ref roots a depth-first
    walk over ``/Kids`` arrays: left-to-right, ``/Type /Pages`` nodes
    recursed, ``/Type /Page`` leaves collected in visit order. A visited
    set guards cycles and duplicate listings; unresolvable bodies and
    kids that are neither Page nor Pages are skipped; depth > 32 prunes
    the subtree. More than 512 visited nodes aborts the walk entirely
    (partial order would scramble unvisited pages), and no collected
    leaf yields None — in both cases byte order stands."""
    root = None
    k = -1
    while True:
        k = text.find("/Root", k + 1)
        if k < 0:
            break
        after = k + len("/Root")
        if (
            after < len(text)
            and text[after] not in _WS
            and text[after] not in _DELIM
        ):
            continue
        num, _ = _read_ref(text, after)
        if num is not None:
            root = num
    if root is None:
        return None
    cat = _obj_body(text, objs, vobjs, root)
    if cat is None:
        return None
    pages_ref = _key_ref(cat, "/Pages")
    if pages_ref is None:
        return None
    order: list = []
    visited: set = set()

    def walk(num: int, depth: int) -> bool:
        if num in visited or depth > _TREE_MAX_DEPTH:
            return True
        if len(visited) >= _TREE_MAX_NODES:
            return False
        visited.add(num)
        body = _obj_body(text, objs, vobjs, num)
        if body is None:
            return True
        if _first_type_is(body, "Page"):
            order.append(num)
            return True
        if not _first_type_is(body, "Pages"):
            return True
        for kid in _kids_refs(body):
            if not walk(kid, depth + 1):
                return False
        return True

    if not walk(pages_ref, 0) or not order:
        return None
    return order


def _content_resources(text: str):
    """({content-object number: (font table, xobject table, geometry)},
    object intervals, form resolver, {part obj num: group id},
    {group id: (part list, entry, trigger obj num)}) from every
    /Type /Page object — direct or ObjStm-contained (token-exact name
    match, so /Pages never qualifies). Multi-part pages (v14): a
    ``/Contents [ … ]`` array registers each part under a group keyed by
    the page object number; the trigger is the part whose direct-object
    interval starts last in the document (ObjStm-contained or missing
    part numbers cannot be streams and are excluded — no streamable part
    → the page degrades to nothing).
    Incremental updates (v16): the sixth return value is the set of DEAD
    definition start offsets — intervals whose object number was redefined
    by a later definition (``_object_map`` is last-wins). Supersession is
    honored only in documents that look incrementally updated, i.e. carry
    ≥ 2 raw ``%%EOF`` markers (ISO 32000 §7.5.6 — every update section
    appends its own ``%%EOF``); a duplicate object number inside a
    single-section body is malformed input and both definitions stay live
    (pinned, SPEC §3b Incremental updates).
    Gated on a literal ``/ToUnicode``, ``/Differences``,
    ``/WinAnsiEncoding``, ``/MacRomanEncoding`` (v18 — a ``/BaseEncoding``
    value is one of these names, so it needs no token of its own),
    ``/ObjStm``, ``/XObject``, ``/Rotate``, ``/Widths`` (v25),
    ``/Identity-`` (v31 — the Identity-H/-V encoding names),
    ``/DescendantFonts`` (v33 — CID /W width arrays), a 2nd
    ``/MediaBox``, a ``/Contents`` array opener, or a 2nd ``%%EOF``
    appearing anywhere —
    absent all of them every table is empty, extraction is identity, no
    form can exist and per-page geometry equals the document default, so
    the gate is a pure fast path (SPEC §3b, v6/v9/v10/v14/v16/v18)."""
    multi_eof = text.count("%%EOF") >= 2
    if (
        not multi_eof
        and "/Kids" not in text  # v21: page-tree ordering needs the object map
        and "/ToUnicode" not in text
        and "/Differences" not in text
        and "/WinAnsiEncoding" not in text
        and "/MacRomanEncoding" not in text
        and "/ObjStm" not in text
        and "/XObject" not in text
        and "/Rotate" not in text
        and "/CropBox" not in text
        and "/Widths" not in text  # v25: advance-width tables
        and "/Annots" not in text  # v27: text-bearing annotations
        and "/Identity-" not in text  # v31: Identity-H/-V CID encodings
        and "/Uni" not in text  # v54: predefined Unicode CMap names
        and "Helvetica" not in text  # v56: core-font builtin metrics —
        # bare substrings so subset-prefixed names (/ABCDEF+Helvetica)
        # also take the slow path (round-4 ADVICE)
        and "Times-Roman" not in text
        and "Courier" not in text
        and "/DescendantFonts" not in text  # v33: CID /W width arrays
        and "/OCProperties" not in text  # v36: optional-content OFF layers
        and text.count("/MediaBox") < 2
        and not _CONTENTS_ARR_RE.search(text)
    ):
        return {}, [], None, {}, {}, frozenset(), None
    dflt = media_box(text)
    objs, intervals = _object_map(text)
    dead = (
        frozenset(s for s, e, num in intervals if objs[num] != (s, e))
        if multi_eof
        else frozenset()
    )
    vobjs = _objstm_bodies(text, objs) if "/ObjStm" in text else {}
    want_xobj = "/XObject" in text
    want_crop = "/CropBox" in text  # v19: gates the extra geometry walk
    want_annots = "/Annots" in text  # v27
    want_oc = "/OCProperties" in text  # v36: optional content
    off = _off_ocgs(text, objs, vobjs) if want_oc else frozenset()
    by_content: dict = {}
    part_of: dict = {}
    groups: dict = {}
    keys_of_page: dict = {}  # page obj num → scan-unit key (v21)
    res_cache: dict = {}  # resources body → derived tables (round-5)
    seen = set(vobjs)
    for num in list(vobjs) + [m for m in objs if m not in seen]:
        body = _obj_body(text, objs, vobjs, num)
        if not _first_type_is(body, "Page"):
            continue
        refs = _contents_refs(body)
        if not refs:
            continue
        res_p = _inherited_resources(text, objs, vobjs, body)
        # pages routinely inherit ONE /Resources dict from the /Pages
        # node — the derived tables are pure functions of (text, objs,
        # vobjs, res_p), all fixed within this call, so multi-page docs
        # build them once per distinct resources body, not once per page
        # (round-5 perf pass; the tables are shared read-only)
        cached = res_cache.get(res_p)
        if cached is None:
            cached = (
                _font_table(text, objs, vobjs, res_p),
                _xobject_table(text, objs, vobjs, res_p) if want_xobj else {},
                _oc_hidden_names(text, objs, vobjs, res_p, off)
                if want_oc
                else frozenset(),
            )
            res_cache[res_p] = cached
        fonts, xobjs, och = cached
        geo = _page_geometry(text, objs, vobjs, body, dflt, want_crop)
        annots = _page_annots(text, objs, vobjs, body) if want_annots else ()
        entry = (fonts, xobjs, geo, annots, och)
        if len(refs) == 1:
            by_content[refs[0]] = entry
            keys_of_page[num] = refs[0]
        else:
            streamable = [r for r in refs if r in objs and r not in vobjs]
            if not streamable:
                continue
            trigger = max(streamable, key=lambda r: objs[r][0])
            groups[num] = (tuple(refs), entry, trigger)
            keys_of_page[num] = num  # group units are keyed by the page obj
            for r in streamable:
                part_of[r] = num  # a shared part: the LAST page wins
    resolver = _make_form_resolver(text, objs, vobjs, off) if want_xobj else None
    # v21: page-tree ordering — map each page's scan-unit key to its tree
    # position. A content object shared by two tree pages keeps the LAST
    # tree listing's position (pinned, mirroring the shared-part rule).
    tree_pos = None
    if keys_of_page:
        ordered = _page_tree_order(text, objs, vobjs)
        if ordered:
            tree_pos = {}
            for pos, pnum in enumerate(ordered):
                key = keys_of_page.get(pnum)
                if key is not None:
                    tree_pos[key] = pos
            if not tree_pos:
                tree_pos = None
    return by_content, intervals, resolver, part_of, groups, dead, tree_pos


def _has_encrypt(text: str) -> bool:
    """Token-exact ``/Encrypt`` anywhere (SPEC §3b Encryption, v11
    detection; v59 decrypts the empty-user-password case);
    ``/EncryptMetadata`` does not match."""
    k = -1
    while True:
        k = text.find("/Encrypt", k + 1)
        if k < 0:
            return False
        after = k + len("/Encrypt")
        if after >= len(text) or text[after] in _WS or text[after] in _DELIM:
            return True


_ENC_REF_RE = re.compile(r"(\d+)[\x00\t\n\x0c\r ]+\d+[\x00\t\n\x0c\r ]+R")


def _key_sint(body: str, key: str) -> Optional[int]:
    """Signed variant of ``_key_int`` (the /P permission flags are
    negative in real files — a 32-bit two's-complement print)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    n = len(body)
    if after < n and body[after] not in _WS and body[after] not in _DELIM:
        return None
    j = _skip_ws(body, after)
    sign = 1
    if body[j : j + 1] == "-":
        sign = -1
        j += 1
    d0 = j
    while j < n and body[j].isdigit():
        j += 1
    if j == d0:
        return None
    if j < n and body[j] not in _WS and body[j] not in _DELIM:
        return None
    return sign * int(body[d0:j])


def _key_string_bytes(body: str, key: str):
    """Token-exact ``key`` → raw BYTES of its literal/hex string value
    (the /O /U /OE /UE reads); None when absent/malformed."""
    k = -1
    n = len(body)
    while True:
        k = body.find(key, k + 1)
        if k < 0:
            return None
        after = k + len(key)
        if after < n and body[after] not in _WS and body[after] not in _DELIM:
            continue
        i = _skip_ws(body, after)
        c = body[i : i + 1]
        if c == "(":
            val, _e, ok = _read_literal(body, i)
            if not ok:
                return None
            try:
                return val.encode("latin-1")
            except UnicodeEncodeError:
                return None
        if c == "<" and body[i : i + 2] != "<<":
            val, _e = _read_hex(body, i)
            return val.encode("latin-1")
        return None


def _doc_id0(text: str) -> bytes:
    """First element of the LAST /ID array (the §7.6.3.3 key-derivation
    salt); empty bytes when absent (degrade — derivation still runs)."""
    best = b""
    k = -1
    n = len(text)
    while True:
        k = text.find("/ID", k + 1)
        if k < 0:
            return best
        after = k + 3
        if after < n and text[after] not in _WS and text[after] not in _DELIM:
            continue
        i = _skip_ws(text, after)
        if text[i : i + 1] != "[":
            continue
        i = _skip_ws(text, i + 1)
        c = text[i : i + 1]
        if c == "<" and text[i : i + 2] != "<<":
            val, _e = _read_hex(text, i)
            best = val.encode("latin-1")
        elif c == "(":
            val, _e, ok = _read_literal(text, i)
            if ok:
                try:
                    best = val.encode("latin-1")
                except UnicodeEncodeError:
                    pass


def _decrypt_object_body(body: str, okey: bytes, aes: bool) -> str:
    """One object body → decrypted body: the stream payload wholesale
    (skipping /Type /XRef streams — never encrypted, ISO §7.5.8.2) and
    every dict-level string individually (re-emitted as HEX — value-
    preserving under the string readers, so downstream parsing is
    identical to the unencrypted twin). AES padding/length failures
    leave the region unchanged (it then fails stream decode and counts
    dropped — the undecodable-stream degrade)."""
    from .pdfcrypt import aes_decrypt_cbc, rc4

    k = body.find("stream")
    sdict_end = len(body)
    stream_span = None
    if k >= 0:
        after = k + 6
        if body[after : after + 2] == "\r\n":
            cstart = after + 2
        elif body[after : after + 1] == "\n":
            cstart = after + 1
        else:
            cstart = None
        if cstart is not None:
            end = body.find("endstream", cstart)
            if end >= 0:
                sdict_end = k
                stream_span = (cstart, end)
    head = body[:sdict_end]
    if stream_span is not None and _first_type_is(head, "XRef"):
        return body  # cross-reference streams are never encrypted
    # dict-level strings → decrypt, re-emit hex
    out: List[str] = []
    i = 0
    n = len(head)
    while i < n:
        c = head[i]
        if c == "(":
            val, e, ok = _read_literal(head, i)
            if not ok:
                out.append(head[i:])
                i = n
                break
            try:
                raw = val.encode("latin-1")
            except UnicodeEncodeError:
                out.append(head[i:e])
                i = e
                continue
            dec = (
                aes_decrypt_cbc(okey, raw) if aes else rc4(okey, raw)
            )
            if dec is None:
                out.append(head[i:e])
            else:
                out.append("<" + dec.hex() + ">")
            i = e
        elif c == "<" and head[i : i + 2] != "<<":
            val, e = _read_hex(head, i)
            raw = val.encode("latin-1")
            dec = aes_decrypt_cbc(okey, raw) if aes else rc4(okey, raw)
            if dec is None:
                out.append(head[i:e])
            else:
                out.append("<" + dec.hex() + ">")
            i = e
        elif c == "<":
            out.append("<<")
            i += 2
        else:
            j = min(
                x
                for x in (head.find("(", i), head.find("<", i), n)
                if x >= 0
            )
            out.append(head[i:j])
            i = j
    new_head = "".join(out)
    if stream_span is None:
        return new_head + body[sdict_end:]
    cstart, end = stream_span
    data = body[cstart:end].encode("latin-1")
    # the scan slice runs to the "endstream" keyword, so it includes the
    # ISO §7.3.8.1 end-of-line marker after the data — strip exactly one
    # (it is not ciphertext; without this AES length checks fail and RC4
    # grows a garbage trailing byte)
    if data.endswith(b"\r\n"):
        data = data[:-2]
    elif data[-1:] in (b"\n", b"\r"):
        data = data[:-1]
    dec = aes_decrypt_cbc(okey, data) if aes else rc4(okey, data)
    if dec is None:
        return body  # AES shape failure → undecodable-stream degrade
    return (
        new_head
        + body[sdict_end:cstart]
        + dec.decode("latin-1")
        + "\n"  # restore the stripped pre-endstream EOL
        + body[end:]
    )


def _decrypt_document(text: str):
    """Encrypted payload → fully-decrypted payload text, or None to
    refuse (ISO 32000-1 §7.6.3 / 32000-2 §7.6.4, EMPTY user password
    only — the owner-restricted-but-readable case; a real user
    password, a non-Standard handler or an unsupported V/CFM keeps the
    v11 whole-payload refusal)."""
    from .pdfcrypt import (
        file_key_rc4,
        object_key,
        r6_verify_empty_user,
        user_check_r2,
        user_check_r34,
    )

    objs, intervals = _object_map(text)
    enc_num = None
    k = -1
    n = len(text)
    while True:
        k = text.find("/Encrypt", k + 1)
        if k < 0:
            break
        after = k + 8
        if after < n and text[after] not in _WS and text[after] not in _DELIM:
            continue
        m = _ENC_REF_RE.match(text, _skip_ws(text, after))
        if m is not None:
            enc_num = int(m.group(1))  # LAST reference wins (updates)
    if enc_num is None or enc_num not in objs:
        return None
    ebody = text[objs[enc_num][0] : objs[enc_num][1]]
    if _key_name(ebody, "/Filter") != "Standard":
        return None
    v = _key_int(ebody, "/V") or 0
    r = _key_int(ebody, "/R") or 0
    length = _key_int(ebody, "/Length") or 40
    p = _key_sint(ebody, "/P")
    o = _key_string_bytes(ebody, "/O")
    u = _key_string_bytes(ebody, "/U")
    if p is None or o is None or u is None:
        return None
    id0 = _doc_id0(text)
    enc_md = "/EncryptMetadata" not in ebody or _key_name(
        ebody, "/EncryptMetadata"
    ) != "false"  # names don't carry booleans; raw-token read below
    if "/EncryptMetadata" in ebody:
        km = ebody.find("/EncryptMetadata")
        enc_md = "false" not in ebody[km : km + 26]
    aes = False
    if v in (4, 5) and (
        _key_name(ebody, "/StmF") != "StdCF"
        or _key_name(ebody, "/StrF") != "StdCF"
    ):
        return None  # Identity/mixed filters: out of scope (pinned)
    if v in (1, 2):
        nbytes = 5 if v == 1 else max(5, min(16, length // 8))
        key = file_key_rc4(o, p, id0, r, nbytes, enc_md)
        if r == 2:
            ok = user_check_r2(key) == u[:32]
        else:
            ok = user_check_r34(key, id0) == u[:16]
    elif v == 4:
        cf = _key_dict_body(ebody, "/CF", text, objs, {})
        stdcf = (
            _key_dict_body(cf, "/StdCF", text, objs, {})
            if cf is not None
            else None
        )
        cfm = _key_name(stdcf, "/CFM") if stdcf is not None else None
        if cfm == "AESV2":
            aes = True
        elif cfm != "V2":
            return None
        # an AESV2 file key is always 128 bits, whatever /Length says
        nbytes = 16 if aes else max(5, min(16, length // 8))
        key = file_key_rc4(o, p, id0, r, nbytes, enc_md)
        ok = user_check_r34(key, id0) == u[:16]
    elif v == 5:
        ue = _key_string_bytes(ebody, "/UE")
        key = r6_verify_empty_user(u, ue or b"")
        ok = key is not None
        aes = True
    else:
        return None
    if not ok:
        return None
    out: List[str] = []
    last = 0
    for s0, e0, num in intervals:
        out.append(text[last:s0])
        body = text[s0:e0]
        if num == enc_num:
            out.append(body)
        else:
            okey = key if v == 5 else object_key(key, num, 0, aes)
            out.append(_decrypt_object_body(body, okey, aes))
        last = e0
    out.append(text[last:])
    return "".join(out)


def parse_realpdf(text: str, cfg: ExtractConfig = DEFAULT_CONFIG):
    """Payload → (list of (page_idx, Box), n_skipped_streams)."""
    if "/Encrypt" in text and _has_encrypt(text):
        # v59: the standard security handler with the EMPTY user
        # password decrypts in place (the owner-restricted-but-readable
        # case — the reference reads those transparently); anything else
        # keeps the v11 whole-payload refusal
        dec = _decrypt_document(text)
        if dec is None:
            return [], 1
        text = dec
    mb_w, mb_h = media_box(text)
    dict_pos, dict_match = _dict_matches(text)  # one pass, all streams
    res_by_obj, obj_intervals, resolver, part_of, groups, dead, tree_pos = (
        _content_resources(text)
    )
    obj_starts = [iv[0] for iv in obj_intervals]
    pending: dict = {}  # group id → {part obj num: decoded content}
    assembled: set = set()
    units: list = []  # (unit key, [Box]) in scan order (v21)
    skipped = 0
    pos = 0
    n = len(text)
    while pos < n:
        k = text.find("stream", pos)
        if k < 0:
            break
        after = k + 6
        if text[after : after + 2] == "\r\n":
            body_start = after + 2
        elif text[after : after + 1] == "\n":
            body_start = after + 1
        else:
            pos = after
            continue
        j = k - 1
        while j >= 0 and text[j] in _WS:
            j -= 1
        if j < 1 or text[j - 1 : j + 1] != ">>":
            pos = after
            continue
        end = text.find("endstream", body_start)
        if end < 0:
            skipped += 1
            break
        d0 = _last_dict_match(dict_pos, dict_match, k)
        params = text[d0:k] if d0 >= 0 else ""
        pos = end + 9
        content = text[body_start:end]
        onum = None
        if res_by_obj or part_of or dead:
            oi = bisect.bisect_right(obj_starts, body_start) - 1
            if oi >= 0 and body_start < obj_intervals[oi][1]:
                if obj_intervals[oi][0] in dead:
                    # superseded by an incremental update (v16): the old
                    # definition is inert bytes — never decoded, never
                    # interpreted, never counted (correct supersession,
                    # not a failure); page ordinals skip it entirely
                    continue
                onum = obj_intervals[oi][2]
        gid = part_of.get(onum) if onum is not None else None
        if gid is not None:
            # multi-part page content (v14): decode the part like any
            # stream, stash it; when the scan passes the group's trigger
            # part, assemble available parts in ARRAY order (newline-
            # joined — ISO §7.7.3.3 concatenation with the token-boundary
            # rule) and interpret ONCE with the page's tables/geometry
            ok = not (resolver is not None and _subtype_is(params, "Form"))
            if ok and "/Filter" in params:
                names = _parse_filter_names(params)
                fparms = (
                    _parse_decode_parms(params, len(names))
                    if names is not None
                    else None
                )
                decoded = (
                    apply_stream_filters(content, names, fparms)
                    if fparms is not None
                    else None
                )
                if decoded is None:
                    skipped += 1
                    ok = False
                else:
                    content = decoded
            if ok:
                pending.setdefault(gid, {})[onum] = content
            refs, entry, trigger = groups[gid]
            if onum != trigger:
                continue
            got = pending.get(gid, {})
            content = "\n".join(got[r] for r in refs if r in got)
            assembled.add(gid)
            if "BT" not in content and not (
                resolver is not None and "Do" in content
            ):
                continue
            fonts, xobjs, (pw, ph, rot, cx, cy), annots, och = entry
            boxes, suppressed = _interpret(
                content, pw, ph, cfg, fonts, xobjs, resolver, rot=rot,
                crop=(cx, cy), ocnames=och,
            )
            skipped += suppressed
            if annots:  # v27: annotation boxes follow the content boxes
                skipped += _append_annots(
                    boxes, annots, pw, ph, rot, cx, cy, cfg
                )
            units.append((gid, boxes))
            continue
        if resolver is not None and _subtype_is(params, "Form"):
            # form XObject stream (SPEC §3b, v9): never a page, renders
            # only via Do; its filter chain is not decoded here and it
            # never counts dropped at discovery
            continue
        if "/Filter" in params:
            # SPEC §3b Filters: decode supported chains (incl. /DecodeParms
            # prediction); unknown name, unsupported parameter values or
            # decode failure → skip+count
            names = _parse_filter_names(params)
            if names is None:
                skipped += 1
                continue
            fparms = _parse_decode_parms(params, len(names))
            if fparms is None:
                skipped += 1
                continue
            decoded = apply_stream_filters(content, names, fparms)
            if decoded is None:
                skipped += 1
                continue
            content = decoded
        if "BT" not in content and not (resolver is not None and "Do" in content):
            continue
        fonts = xobjs = None
        pw, ph, rot, cx, cy = mb_w, mb_h, 0, 0.0, 0.0
        annots = ()
        och = frozenset()
        if res_by_obj and onum is not None:
            entry = res_by_obj.get(onum)
            if entry is not None:
                fonts, xobjs, (pw, ph, rot, cx, cy), annots, och = entry
        boxes, suppressed = _interpret(
            content, pw, ph, cfg, fonts, xobjs, resolver, rot=rot,
            crop=(cx, cy), ocnames=och,
        )
        skipped += suppressed
        if annots:  # v27: annotation boxes follow the content boxes
            skipped += _append_annots(boxes, annots, pw, ph, rot, cx, cy, cfg)
        units.append((onum, boxes))
    # parts stashed for a group whose trigger never materialized (truncated
    # or malformed tail): the page is lost — count it once per group
    skipped += sum(1 for g in pending if g not in assembled)
    # v21 page-tree ordering: units whose key maps into the tree emit in
    # tree order; unmapped units (orphan streams, pages outside the tree)
    # follow in scan order. Without a resolvable tree, scan order stands —
    # byte order IS the pre-v21 behavior.
    if tree_pos:
        mapped = sorted(
            (tree_pos[k], i) for i, (k, _b) in enumerate(units) if k in tree_pos
        )
        idx = [i for _p, i in mapped] + [
            i for i, (k, _b) in enumerate(units) if k not in tree_pos
        ]
    else:
        idx = range(len(units))
    out = []
    for page, i in enumerate(idx):
        for box in units[i][1]:
            out.append((page, box))
    return out, skipped


def realpdf_spans(text: str, cfg: ExtractConfig = DEFAULT_CONFIG):
    """Full real-PDF path → (spans, n_dropped) — downstream identical to
    ``pdflike_spans`` from the header/footer band drop onward (SPEC §3b)."""
    parsed, n_dropped = parse_realpdf(text, cfg)
    by_page: dict = {}
    for page, box in parsed:
        if box[3] <= cfg.header_y or box[1] >= cfg.footer_y:
            n_dropped += 1
            continue
        by_page.setdefault(page, []).append(box)

    spans = []
    for page in sorted(by_page):
        page_boxes = by_page[page]
        if cfg.layout_mode == "walk":
            ordered = [b for b, _lay in layout_walk(page_boxes, cfg.page_w)]
        else:
            ordered = xy_cut(page_boxes, cfg)
        if cfg.merge_paragraphs:
            ordered = merge_paragraph_lines(ordered, cfg)
        for x0, y0, x1, y1, _i, t in ordered:
            clean = collapse_ws(t)
            if len(clean) < cfg.min_chars:
                if clean:
                    n_dropped += 1
                continue
            spans.append(("para", clean, 1.0, [x0, y0, x1, y1]))
    return spans, n_dropped
