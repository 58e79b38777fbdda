"""Real-PDF (`%PDF-`) path (SPEC §3b): kernel vs oracle parity, known-answer
documents, malformed-input robustness.

The reference ingests real PDFs via PyMuPDF page render + per-page OCR
(/root/reference/ppocr/utils/utility.py:119-152,
/root/reference/tools/infer/predict_system.py:212-224); this engine
interprets uncompressed text objects directly and feeds the same XY-cut /
layout path as the PDFLIKE format. Two independent implementations
(functions/realpdf.py single-pass scanner; oracle.py two-pass regex
tokenizer) are held byte-equal here.
"""

import base64
import functools
import hashlib
import itertools
import random
import re
import time
import zlib
from typing import Callable, NamedTuple, Optional

import pytest

from paddleocr_spark.config import DEFAULT_CONFIG, ExtractConfig
from paddleocr_spark.corpus import (
    _lzw_encode,
    _make_realpdf,
    _pad_to,
    _png_predict,
    _rle_encode,
    _tiff_predict,
)
from paddleocr_spark.functions.realpdf import media_box, parse_realpdf, realpdf_spans
from paddleocr_spark.functions.sniff import sniff_kind
from paddleocr_spark.kernel import assemble_text, extract_payload
from paddleocr_spark.oracle import oracle_extract

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


TRAILER = "trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def _pdf(ops: str, objs: str = "", page: str = "", *, pages: str = "",
         count: bool = True, length: bool = True, sdict: str = "",
         mediabox: str = "0 0 612 792", trailer: str = TRAILER) -> str:
    """The one-page skeleton: catalog 1, pages 2 (``pages`` extends its dict),
    page 3 (``page`` extends its dict), content stream 4 (``sdict`` extends
    its dict), then ``objs`` and ``trailer``. ``count=False`` drops /Count;
    ``length=False`` writes the stream dict as ``<< >>``."""
    cnt = " /Count 1" if count else ""
    head = f"<< /Length {len(ops)}{sdict} >>" if length else "<< >>"
    return (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        f"2 0 obj\n<< /Type /Pages /Kids [3 0 R]{cnt} /MediaBox [{mediabox}]{pages} >>\nendobj\n"
        f"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R{page} >>\nendobj\n"
        f"4 0 obj\n{head}\nstream\n{ops}\nendstream\nendobj\n"
        f"{objs}{trailer}"
    )


def _obj(num: int, body: str) -> str:
    return f"{num} 0 obj\n{body}\nendobj\n"


def _stream(num: int, data: str, sdict: str = "") -> str:
    return _obj(num, f"<< /Length {len(data)}{sdict} >>\nstream\n{data}\nendstream")


def _fonts(decl: str) -> str:
    return f" /Resources << /Font << {decl} >> >>"


def _parity(doc: str, cfg: ExtractConfig = DEFAULT_CONFIG, where=None,
            kind: Optional[str] = "pdf_real"):
    """Kernel == oracle on kind, spans and n_dropped; returns the spans.
    ``kind=None`` skips the pdf_real check (for truncated prefixes)."""
    k, spans, drop = extract_payload(doc, cfg)
    o = oracle_extract(doc, cfg)
    assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"]), where
    assert kind is None or k == kind, where
    return spans


def _texts(doc: str, cfg: ExtractConfig = DEFAULT_CONFIG):
    return [s[2] for s in _parity(doc, cfg)]


def _dropped(doc: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> int:
    return extract_payload(doc, cfg)[2]


@functools.lru_cache(maxsize=None)
def _corpus_doc(seed: int) -> str:
    """The corpus generator's payload for ``seed``, built once per session."""
    return _make_realpdf(random.Random(seed), WORDS)


def test_sniff_pdf_real():
    assert sniff_kind("%PDF-1.7\nrest") == "pdf_real"
    assert sniff_kind("  \n%PDF-1.4") == "pdf_real"
    assert sniff_kind("PDFLIKE v1\n0|1,2,3,4|x") == "pdf"
    assert sniff_kind("a %PDF- in the middle") == "plain"


def test_known_answer_text_operators():
    """Tj, TJ (kern-space), hex strings, escapes, Td/T*/TL positioning."""
    ops = (
        "BT\n/F1 12 Tf\n16 TL\n72 700 Td\n"
        "(first line) Tj\nT*\n"
        "[(kerned) -250 (words)] TJ\nT*\n"
        "<48656C6C6F> Tj\n0 -16 Td\n"
        "(esc \\(p\\) \\101 \\\\ done) Tj\nET"
    )
    doc = _pdf(ops)
    kind, spans, dropped = extract_payload(doc)
    assert kind == "pdf_real"
    texts = [s[2] for s in spans]
    assert texts == ["first line", "kerned words", "Hello", "esc (p) A \\ done"]
    assert dropped == 0
    # bbox sanity: descending lines → increasing y in canonical top-left space
    ys = [s[4][1] for s in spans]
    assert ys == sorted(ys)


def test_header_footer_band_drop_and_filter_stream():
    ops = (
        "BT\n/F1 8 Tf 72 766 Td (running header) Tj\nET\n"
        "BT\n/F1 12 Tf 72 700 Td (body content line) Tj\nET\n"
        "BT\n/F1 8 Tf 72 18 Td (page footer) Tj\nET"
    )
    extra = (
        "5 0 obj\n<< /Length 8 /Filter /FlateDecode >>\n"
        "stream\nBTBLOBET\nendstream\nendobj\n"
    )
    doc = _pdf(ops, extra)
    kind, spans, dropped = extract_payload(doc)
    assert [s[2] for s in spans] == ["body content line"]
    assert dropped == 3  # header + footer + skipped filtered stream


def test_mediabox_scaling():
    """Same user-space ops under A4 vs Letter give different canonical boxes."""
    ops = "BT /F1 12 Tf 72 700 Td (scaled line here) Tj ET"
    b_letter = parse_realpdf(_pdf(ops))[0][0][1]
    b_a4 = parse_realpdf(_pdf(ops, mediabox="0 0 595 842"))[0][0][1]
    assert b_letter != b_a4
    assert media_box("%PDF-1.4 no box here") == (612.0, 792.0)
    assert media_box("%PDF-1.4 /MediaBox [0 0 595 842]") == (595.0, 842.0)
    assert media_box("%PDF-1.4 /MediaBox [0 0 -5 10]") == (612.0, 792.0)


def test_two_column_reading_order():
    """Left column reads fully before the right (XY-cut column split)."""
    ops = (
        "BT /F1 10 Tf 14 TL 1 0 0 1 72 700 Tm (left one) Tj T* (left two) Tj ET\n"
        "BT /F1 10 Tf 14 TL 1 0 0 1 330 700 Tm (right one) Tj T* (right two) Tj ET"
    )
    kind, spans, _ = extract_payload(_pdf(ops))
    assert [s[2] for s in spans] == ["left one", "left two", "right one", "right two"]


def test_multipage_order_and_quote_operator():
    c1 = "BT /F1 12 Tf 15 TL 72 700 Td (page one line) Tj (continued via quote) ' ET"
    c2 = "BT /F1 12 Tf 72 700 Td (page two line) Tj ET"
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
        "/MediaBox [0 0 612 792] >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n"
        "4 0 obj\n<< /Type /Page /Contents 6 0 R >>\nendobj\n"
        f"5 0 obj\n<< /Length {len(c1)} >>\nstream\n{c1}\nendstream\nendobj\n"
        f"6 0 obj\n<< /Length {len(c2)} >>\nstream\n{c2}\nendstream\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    kind, spans, _ = extract_payload(doc)
    assert [s[2] for s in spans] == [
        "page one line", "continued via quote", "page two line"
    ]


@pytest.mark.parametrize(
    "cfg",
    [
        DEFAULT_CONFIG,
        ExtractConfig(merge_paragraphs=True),
        ExtractConfig(layout_mode="walk"),
        ExtractConfig(detect_formula=True),
    ],
    ids=["default", "paras", "walk", "formula"],
)
def test_fuzz_kernel_oracle_parity(cfg):
    """Corpus-generator payloads: kernel == oracle on every field, all
    config variants (the frozen-golden contract for the new kind)."""
    for seed in range(120):
        doc = _corpus_doc(seed)
        spans = _parity(doc, cfg, f"seed {seed}")
        assert assemble_text(spans, cfg) == oracle_extract(doc, cfg)["extracted_text"], seed


def test_merge_fragments_config_path():
    """cfg.merge_fragments joins x-adjacent same-row shows (kernel-only
    golden — the oracle skips this opt-in stage, same as the PDFLIKE path)."""
    ops = (
        "BT /F1 10 Tf 1 0 0 1 72 700 Tm (left piece) Tj ET\n"
        "BT /F1 10 Tf 1 0 0 1 146 700 Tm (right piece) Tj ET"
    )
    # advance(left piece) = 0.5*10*10 = 50pt → x1 = 122pt ≈ canonical 159;
    # right x0 = 146pt ≈ canonical 191 — gap 32 > y_band, no merge; move
    # closer for the merging case
    near = (
        "BT /F1 10 Tf 1 0 0 1 72 700 Tm (left piece) Tj ET\n"
        "BT /F1 10 Tf 1 0 0 1 125 700 Tm (right piece) Tj ET"
    )
    spans_far = realpdf_spans(_pdf(ops), ExtractConfig(merge_fragments=True))[0]
    spans_near = realpdf_spans(_pdf(near), ExtractConfig(merge_fragments=True))[0]
    assert [s[1] for s in spans_far] == ["left piece", "right piece"]
    assert [s[1] for s in spans_near] == ["left piece right piece"]


OPS = "BT /F1 12 Tf 14 TL 72 700 Td (filter roundtrip line one) Tj T* (and line two) Tj ET"


def _same_text_every_variant(variants):
    """Each variant passes parity and extracts exactly what the first does."""
    results = [(_parity(doc), _dropped(doc)) for doc in variants]
    assert all(r == results[0] for r in results[1:])
    assert results[0][0]  # extracted something


def test_filters_transparent():
    """The same content ops encoded plain / hex / a85 / a85+flate extract
    byte-identically — filters are transparent (SPEC §3b Filters)."""

    raw = OPS.encode("latin-1")
    variants = [
        _pdf(OPS),
        _pdf(raw.hex().upper() + ">", sdict=" /Filter /ASCIIHexDecode"),
        _pdf(
            base64.a85encode(raw).decode() + "~>", sdict=" /Filter /ASCII85Decode"
        ),
        _pdf(
            base64.a85encode(zlib.compress(raw)).decode() + "~>",
            sdict=" /Filter [/ASCII85Decode /FlateDecode]",
        ),
    ]
    _same_text_every_variant(variants)


@pytest.mark.parametrize(
    "body,fdecl",
    [
        ("xxxxGARBLEDxx", " /Filter /FlateDecode"),  # raw-binary flate
        ("whatever", " /Filter /LZWDecode"),  # LZW bits run out before EOD
        ("\xff\xd8GARBLED", " /Filter /DCTDecode"),  # unsupported filter
        # flate body garbage (parms themselves are fine in v5)
        ("xxxx", " /Filter /FlateDecode /DecodeParms << /Predictor 12 >>"),
        # unsupported parameter values (validated BEFORE decode)
        ("xxxx", " /Filter /FlateDecode /DecodeParms"
                 " << /Predictor 12 /BitsPerComponent 4 >>"),
        ("xxxx", " /Filter /FlateDecode /DecodeParms << /Predictor 7 >>"),
        ("xxxx", " /Filter /FlateDecode /DecodeParms << /Predictor 12 /Colors 9 >>"),
        ("00>", " /Filter [/ASCIIHexDecode /LZWDecode] /DecodeParms"
                " [null << /EarlyChange 2 >>]"),
        # malformed /DecodeParms values
        ("xxxx", " /Filter /FlateDecode /DecodeParms << /Predictor foo >>"),
        ("xxxx", " /Filter /FlateDecode /DecodeParms [5]"),
        # unterminated parms ARRAY (the dict inside stays balanced, so the
        # outer stream dict still parses; a bare unterminated `<<` would
        # instead unbalance the whole parameter dict → no params → no count)
        ("xxxx", " /Filter /FlateDecode /DecodeParms [<< /Predictor 12 >>"),
        ("xxxx", " /Filter /FlateDecode /DecodeParms [null"),
        ("xxxx", " /Filter /FlateDecode /DecodeParms 5"),
        ("zz!!", " /Filter garbage"),  # malformed value (no name/array)
        ("NOTHEX!>", " /Filter /ASCIIHexDecode"),  # bad hex char
        ("v!!!!~x", " /Filter /ASCII85Decode"),  # ~ not followed by >
        ("!z!!!~>", " /Filter /ASCII85Decode"),  # z inside a group
        ("uuuuu~>", " /Filter /ASCII85Decode"),  # group overflow
        ("!\x0b!!!!~>", " /Filter /ASCII85Decode"),  # \v is NOT whitespace
        ("abc", " /Filter [/ASCIIHexDecode"),  # unterminated array
        ("abc", " /Filter [/ASCIIHexDecode 5]"),  # non-name in array
    ],
)
def test_filter_failures_skip_and_count(body, fdecl):
    """Every undecodable filtered stream is skipped and counted dropped —
    never raised — identically in kernel and oracle."""
    doc = _pdf(body, sdict=fdecl)
    assert _parity(doc) == [] and _dropped(doc) == 1


def test_a85_kernel_matches_stdlib():
    """Hand-rolled kernel ASCII85 == stdlib a85decode on valid input
    (round-trips arbitrary bytes) and fails exactly when stdlib raises
    (random garbage), modulo the PDF-whitespace stripping both sides of
    the SPEC do first."""

    from paddleocr_spark.functions.realpdf import _a85_decode

    rng = random.Random(85)
    for n in list(range(0, 40)) + [255, 1024]:
        raw = bytes(rng.randrange(256) for _ in range(n))
        enc = base64.a85encode(raw)
        assert _a85_decode(enc) == raw
        assert _a85_decode(enc + b"~>junk after eod") == raw
        assert _a85_decode(b" \t\n" + enc + b"\r\x0c\x00~>") == raw
    # stdlib leniency inherited: a 1-char trailing group contributes nothing
    assert _a85_decode(b"!!!!!!") == b"\x00\x00\x00\x00"
    for seed in range(300):
        g = random.Random(seed)
        garbage = bytes(g.randrange(33, 128) for _ in range(g.randrange(1, 24)))
        got = _a85_decode(garbage)
        try:
            want = base64.a85decode(
                bytes(c for c in garbage.split(b"~")[0] if c not in b"\x00\t\n\x0c\r "),
                ignorechars=b"",
            ) if (b"~" not in garbage or garbage.split(b"~", 1)[1][:1] == b">") else None
        except ValueError:
            want = None
        assert got == want, f"seed {seed}: {garbage!r} -> {got!r} vs {want!r}"


def test_hex_kernel_roundtrip():
    from paddleocr_spark.functions.realpdf import _hex_decode

    rng = random.Random(16)
    for n in range(0, 50):
        raw = bytes(rng.randrange(256) for _ in range(n))
        hx = raw.hex().upper().encode()
        assert _hex_decode(hx) == raw
        assert _hex_decode(hx + b">ignored") == raw
        assert _hex_decode(b" \n".join([hx[:4], hx[4:]])) == raw
    assert _hex_decode(b"ABC") == b"\xab\xc0"  # odd digit padded
    assert _hex_decode(b"AG") is None


# --- v5 filters: LZW / RunLength / predictors (SPEC §3b Filters v5) ---------


def test_lzw_roundtrip_both_implementations():
    """Corpus LZW encoder → kernel decoder == oracle decoder == original, at
    both EarlyChange settings, across the 9→10→11→12-bit width boundaries
    and a forced table Clear (input large enough to pass 4093 entries)."""
    from paddleocr_spark.functions.realpdf import _lzw_decode
    from paddleocr_spark.oracle import _rpdf_lzw

    rng = random.Random(1201)
    for early in (0, 1):
        for n in (0, 1, 17, 3000, 150_000):  # 150k random bytes force Clears
            raw = bytes(rng.randrange(256) for _ in range(n))
            enc = _lzw_encode(raw, early)
            assert _lzw_decode(enc, early) == raw, (early, n)
            assert _rpdf_lzw(enc, early) == raw, (early, n)
        comp = b"the quick brown fox jumps over the lazy dog " * 4000
        enc = _lzw_encode(comp, early)
        assert _lzw_decode(enc, early) == comp == _rpdf_lzw(enc, early)
        # wrong EarlyChange on decode must NOT round-trip big inputs
        assert _lzw_decode(_lzw_encode(comp, early), 1 - early) != comp


def test_lzw_one_mib_round_trips_in_linear_time():
    """A 1 MiB stream encodes and decodes through kernel and oracle in < 10 s:
    the bit readers and writer keep only unread bits, so each code costs
    O(1) instead of a shift of the whole stream."""
    from paddleocr_spark.functions.realpdf import _lzw_decode
    from paddleocr_spark.oracle import _rpdf_lzw

    raw = random.Random(1202).randbytes(1 << 20)
    t0 = time.perf_counter()
    enc = _lzw_encode(raw)
    assert _lzw_decode(enc) == raw
    assert _rpdf_lzw(enc, 1) == raw
    wall = time.perf_counter() - t0
    assert wall < 10.0, f"1 MiB LZW round trip took {wall:.1f}s"


def test_rle_roundtrip_both_implementations():
    from paddleocr_spark.functions.realpdf import _rle_decode
    from paddleocr_spark.oracle import _rpdf_rle

    rng = random.Random(90)
    for n in (0, 1, 2, 7, 300, 5000):
        raw = bytes(rng.choice(b"aaabbccddddddddddddef") for _ in range(n))
        enc = _rle_encode(raw)
        assert _rle_decode(enc) == raw == _rpdf_rle(enc), n
    assert _rle_decode(b"\x80junk") == b""  # EOD ends the scan
    assert _rle_decode(b"\x05ab") is None  # truncated literal
    assert _rle_decode(b"\x81") is None  # truncated run
    assert _rle_decode(b"\x00a") is None  # missing EOD


def test_predictor_roundtrip_both_implementations():
    """PNG (all five row filter types via the cycling encoder) and TIFF
    predictors round-trip through kernel and oracle at several geometries."""
    from paddleocr_spark.functions.realpdf import _unpredict
    from paddleocr_spark.oracle import _rpdf_unpredict

    rng = random.Random(10)
    for colors in (1, 3):
        for cols in (1, 8, 24):
            raw = _pad_to(
                bytes(rng.randrange(256) for _ in range(rng.randrange(6 * cols, 40 * cols))),
                cols * colors,
            )
            png = _png_predict(raw, cols, colors)
            tif = _tiff_predict(raw, cols, colors)
            for pred, enc in ((12, png), (2, tif)):
                assert _unpredict(enc, pred, colors, cols) == raw, (pred, colors, cols)
                assert _rpdf_unpredict(enc, pred, colors, cols) == raw, (pred, colors, cols)
    # ragged length and bad PNG row type fail in both
    assert _unpredict(b"\x00abc", 12, 1, 8) is None
    assert _rpdf_unpredict(b"\x00abc", 12, 1, 8) is None
    assert _unpredict(b"\x09" + b"a" * 8, 12, 1, 8) is None
    assert _rpdf_unpredict(b"\x09" + b"a" * 8, 12, 1, 8) is None


def test_codec_garbage_failure_for_failure():
    """On 500 random byte strings the kernel and oracle decoders agree
    exactly — same bytes on success, both None on failure."""
    from paddleocr_spark.functions.realpdf import _lzw_decode, _rle_decode, _unpredict
    from paddleocr_spark.oracle import _rpdf_lzw, _rpdf_rle, _rpdf_unpredict

    for seed in range(500):
        g = random.Random(seed)
        garbage = bytes(g.randrange(256) for _ in range(g.randrange(0, 60)))
        for early in (0, 1):
            assert _lzw_decode(garbage, early) == _rpdf_lzw(garbage, early), seed
        assert _rle_decode(garbage) == _rpdf_rle(garbage), seed
        for pred in (2, 10, 12, 15):
            assert _unpredict(garbage, pred, 1, 8) == _rpdf_unpredict(
                garbage, pred, 1, 8
            ), (seed, pred)


def test_v5_filters_transparent():
    """The same content ops under every v5 chain — LZW behind hex/a85 (both
    EarlyChange settings), RunLength, PNG/TIFF predictors (array and
    single-dict /DecodeParms) — extract byte-identically to the plain form
    in kernel AND oracle (trailing-space predictor padding is insignificant
    to the tokenizer)."""


    raw = OPS.encode("latin-1")
    hexb = lambda b: b.hex().upper() + ">"
    a85b = lambda b: base64.a85encode(b).decode() + "~>"
    variants = [
        _pdf(OPS),
        _pdf(hexb(_lzw_encode(raw)), sdict=" /Filter [/ASCIIHexDecode /LZWDecode]"),
        _pdf(
            a85b(_lzw_encode(raw, early=0)),
            sdict=" /Filter [/ASCII85Decode /LZWDecode]"
            " /DecodeParms [null << /EarlyChange 0 >>]",
        ),
        _pdf(_rle_encode(raw).decode("latin-1"), sdict=" /Filter /RunLengthDecode"),
        _pdf(
            a85b(zlib.compress(_png_predict(_pad_to(raw, 24), 24))),
            sdict=" /Filter [/ASCII85Decode /FlateDecode]"
            " /DecodeParms [null << /Predictor 12 /Columns 24 >>]",
        ),
        _pdf(
            hexb(_lzw_encode(_tiff_predict(_pad_to(raw, 16), 16))),
            sdict=" /Filter [/ASCIIHexDecode /LZWDecode]"
            " /DecodeParms [null << /Predictor 2 /Columns 16 >>]",
        ),
        _pdf(
            a85b(zlib.compress(_png_predict(_pad_to(raw, 8), 8))),
            sdict=" /Filter [/ASCII85Decode /FlateDecode]"
            " /DecodeParms << /Predictor 15 /Columns 8 >>",  # dict → last filter
        ),
    ]
    _same_text_every_variant(variants)


def test_many_stream_document_linear_and_equal():
    """A 400-stream document parses kernel == oracle, and the shared
    dict-match precompute equals the bounded per-stream scan at every
    stream boundary (the O(doc × streams) rescan it replaced)."""
    from paddleocr_spark.functions.realpdf import (
        _dict_matches,
        _last_dict_match,
        _param_dict_start,
    )

    n_pages = 400
    parts = ["%PDF-1.4", "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj",
             "2 0 obj\n<< /Type /Pages /Kids [] /Count %d"
             " /MediaBox [0 0 612 792] >>\nendobj" % n_pages]
    for p in range(n_pages):
        ops = f"BT /F1 12 Tf 72 700 Td (page {p} body line) Tj ET"
        parts.append(
            f"{3 + p} 0 obj\n<< /Length {len(ops)} >>\n"
            f"stream\n{ops}\nendstream\nendobj"
        )
    doc = "\n".join(parts + ["trailer\n<< /Root 1 0 R >>\n%%EOF"])

    t0 = time.perf_counter()
    extract_payload(doc, DEFAULT_CONFIG)
    wall = time.perf_counter() - t0
    assert len(_parity(doc)) == n_pages
    assert wall < 2.0, f"400-stream parse took {wall:.2f}s — quadratic again?"

    pos, match = _dict_matches(doc)
    at = 0
    while True:
        at = doc.find("stream", at)
        if at < 0:
            break
        assert _last_dict_match(pos, match, at) == _param_dict_start(doc, at)
        at += 6


# --- v6: fonts & ToUnicode CMaps (SPEC §3b Fonts) ---------------------------


def _pdf_cmap(ops: str, cmap: str) -> str:
    return _pdf(ops, _obj(5, "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>")
                + _stream(6, cmap), _fonts("/F9 5 0 R"))


SHIFT3_CMAP = (
    "/CIDInit /ProcSet findresource begin\nbegincmap\n"
    "1 beginbfrange\n<26> <81> <0023>\nendbfrange\nendcmap\nend"
)


def _shift3(s: str) -> str:
    return "".join(f"{ord(c) + 3:02X}" if c != " " else "20" for c in s)


def test_cmap_bfrange_shift_decodes_to_plain():
    """A 1-byte shifted page decodes to exactly what its plain twin shows —
    boxes included (advance widths use decoded length)."""
    plain_ops = "BT /F9 12 Tf 72 700 Td (hello cmap world) Tj ET"
    enc_ops = f"BT /F9 12 Tf 72 700 Td <{_shift3('hello cmap world')}> Tj ET"
    enc = _pdf_cmap(enc_ops, SHIFT3_CMAP)
    s_enc = _parity(enc)
    k_pl, s_pl, d_pl = extract_payload(_pdf(plain_ops))
    assert [x[2] for x in s_enc] == ["hello cmap world"]
    assert s_enc == s_pl and _dropped(enc) == d_pl == 0


def test_cmap_bfchar_2byte_and_surrogates():
    cm = ("begincmap\n3 beginbfchar\n<0100> <0041>\n<0101> <0042>\n"
          "<0102> <D83DDE00>\nendbfchar\nendcmap")
    ops = "BT /F9 12 Tf 72 700 Td <010001010102 0100> Tj ET"
    assert _texts(_pdf_cmap(ops, cm)) == ["AB\U0001F600A"]


def test_cmap_through_compressed_stream_and_font_switch():
    """The ToUnicode stream rides its own filter chain, and Tf switches
    between two mapped fonts mid-page."""

    cm1 = base64.a85encode(zlib.compress(SHIFT3_CMAP.encode())).decode() + "~>"
    cm2 = ("begincmap\n3 beginbfchar\n<0100> <0058>\n<0101> <0059>\n"
           "<0102> <005A>\nendbfchar\nendcmap")
    ops = (
        f"BT /F9 12 Tf 14 TL 72 700 Td <{_shift3('first line')}> Tj T* "
        "/F8 12 Tf <010001010102010001010102> Tj ET"
    )
    doc = _pdf(
        ops,
        _obj(5, "<< /Type /Font /ToUnicode 6 0 R >>")
        + _stream(6, cm1, " /Filter [/ASCII85Decode /FlateDecode]")
        + _obj(7, "<< /Type /Font /ToUnicode 8 0 R >>") + _stream(8, cm2),
        _fonts("/F9 5 0 R /F8 7 0 R"),
    )
    assert _texts(doc) == ["first line", "XYZXYZ"]


def test_cmap_indirect_resources_and_font_dicts():
    """/Resources and /Font as indirect references resolve through the
    object map."""
    ops = f"BT /F9 12 Tf 72 700 Td <{_shift3('indirect works')}> Tj ET"
    doc = _pdf(
        ops,
        _obj(9, "<< /Font 10 0 R >>") + _obj(10, "<< /F9 5 0 R >>")
        + _obj(5, "<< /Type /Font /ToUnicode 6 0 R >>") + _stream(6, SHIFT3_CMAP),
        " /Resources 9 0 R",
    )
    assert _texts(doc) == ["indirect works"]


@pytest.mark.parametrize(
    "cmap_stream",
    [
        "begincmap\n1 beginbfchar\n<GG> <0041>\nendbfchar\nendcmap",  # bad hex
        "begincmap\n1 beginbfchar\n<010> <0041>\nendbfchar\nendcmap",  # odd src
        "begincmap\n1 beginbfchar\n<010000> <0041>\nendbfchar\nendcmap",  # 3-byte src
        "begincmap\n1 beginbfchar\n<0100> <00>\nendbfchar\nendcmap",  # dst not UTF-16
        "begincmap\n1 beginbfchar\n<0100> <D800>\nendbfchar\nendcmap",  # lone surrogate
        "begincmap\n1 beginbfrange\n<00> <FFFF> <0041>\nendbfrange\nendcmap",  # huge span
        "begincmap\nbeginbfchar",  # truncated section
        "nocmapatall",
    ],
)
def test_cmap_malformed_degrades_to_identity(cmap_stream):
    """Every malformed CMap degrades to identity (codes pass through raw),
    identically in kernel and oracle — never raises."""
    ops = "BT /F9 12 Tf 72 700 Td (raw passthrough text) Tj ET"
    assert _texts(_pdf_cmap(ops, cmap_stream)) == ["raw passthrough text"]


def test_cmap_dangling_refs_identity():
    """Refs to missing objects, /Contents arrays, and /ToUnicode pointing at
    a non-stream all degrade to identity in both implementations."""
    ops = "BT /F9 12 Tf 72 700 Td (still plain) Tj ET"
    for res, extra in [
        (" /Resources << /Font << /F9 99 0 R >> >>", ""),  # missing font obj
        (" /Resources 98 0 R", ""),  # missing resources obj
        (" /Resources << /Font << /F9 5 0 R >> >>",
         "5 0 obj\n<< /Type /Font /ToUnicode 97 0 R >>\nendobj\n"),  # missing cmap
        (" /Resources << /Font << /F9 5 0 R >> >>",
         "5 0 obj\n<< /Type /Font /ToUnicode 1 0 R >>\nendobj\n"),  # not a stream
    ]:
        assert _texts(_pdf(ops, extra, res)) == ["still plain"], res


def _objstm_doc(inner_objs, ops: str, extra: str = "",
                compress: bool = False) -> str:
    """Build a doc whose page+font objects live in a /Type /ObjStm
    container; content stream (obj 4) and CMap stream (obj 6) stay direct."""

    blob = "".join(b + "\n" for _n, b in inner_objs)
    offs, acc = [], 0
    for _n, b in inner_objs:
        offs.append(acc)
        acc += len(b) + 1
    header = " ".join(f"{n} {o}" for (n, _b), o in zip(inner_objs, offs)) + "\n"
    content = header + blob
    if compress:
        sbody = base64.a85encode(zlib.compress(content.encode())).decode() + "~>"
        sdecl = " /Filter [/ASCII85Decode /FlateDecode]"
    else:
        sbody, sdecl = content, ""
    return (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\nendobj\n"
        f"{_stream(4, ops)}{_stream(6, SHIFT3_CMAP)}{extra}"
        f"9 0 obj\n<< /Type /ObjStm /N {len(inner_objs)} /First {len(header)}"
        f" /Length {len(sbody)}{sdecl} >>\nstream\n{sbody}\nendstream\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )


OBJSTM_INNER = [
    (3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        " /Resources << /Font << /F9 5 0 R >> >> >>"),
    (5, "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>"),
]


@pytest.mark.parametrize("compress", [False, True], ids=["plain", "flate"])
def test_objstm_page_and_font_resolve(compress):
    """Page and font objects inside an ObjStm container (plain and
    compressed) resolve exactly like direct objects — kernel == oracle,
    and the decoded text equals the direct-object variant's."""
    ops = f"BT /F9 12 Tf 72 700 Td <{_shift3('objstm resolves fine')}> Tj ET"
    spans = _parity(_objstm_doc(OBJSTM_INNER, ops, compress=compress))
    assert [s[2] for s in spans] == ["objstm resolves fine"]
    direct = extract_payload(_pdf_cmap(ops, SHIFT3_CMAP))[1]
    assert spans == direct


def test_objstm_overrides_direct_object():
    """A contained definition overrides a same-numbered direct object
    (incremental-update semantics), in both implementations."""
    ops = f"BT /F9 12 Tf 72 700 Td <{_shift3('container wins here')}> Tj ET"
    # direct object 3 is a page WITHOUT resources; the container's page 3
    # carries the font table — container must win
    extra = "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    assert _texts(_objstm_doc(OBJSTM_INNER, ops, extra=extra)) == ["container wins here"]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda d: d.replace("/N 2", "/N notanint"),  # malformed /N
        lambda d: d.replace("/First", "/FirstX"),  # key name mismatch
        lambda d: d.replace("/Type /ObjStm", "/Type /ObjStmX"),  # not a container
        lambda d: d.replace("3 0 5", "3 9999 5"),  # offset beyond content
    ],
    ids=["bad-n", "bad-first", "bad-type", "bad-offset"],
)
def test_objstm_malformed_degrades_to_identity(mutate):
    """Malformed containers are skipped (identity text), never raise,
    identically in kernel and oracle."""
    ops = "BT /F9 12 Tf 72 700 Td (plain stays plain) Tj ET"
    assert _texts(mutate(_objstm_doc(OBJSTM_INNER, ops))) == ["plain stays plain"]


# ---------------------------------------------------------------------------
# v8: inline images (BI/ID/EI, SPEC §3b Inline images)


def test_inline_image_poison_invisible():
    """Image data full of fake operators must not produce text or move the
    cursor — the page extracts exactly like its image-free twin."""
    body = (
        "BT\n/F1 12 Tf 16 TL 72 700 Td (before image) Tj\nET\n"
        "BI /W 4 /H 2 /CS /G /BPC 8 ID "
        "x(fake) Tj BT /F1 66 Tf (boom) Tj ET 9 9 Td EIq zEI(\nEI\n"
        "BT\n/F1 12 Tf 72 650 Td (after image) Tj\nET"
    )
    twin = (
        "BT\n/F1 12 Tf 16 TL 72 700 Td (before image) Tj\nET\n"
        "BT\n/F1 12 Tf 72 650 Td (after image) Tj\nET"
    )
    assert _texts(_pdf(body)) == ["before image", "after image"]
    k1 = extract_payload(_pdf(body))
    k2 = extract_payload(_pdf(twin))
    assert k1 == k2  # spans AND boxes identical to the image-free twin


def test_inline_image_length_key_overrides_early_boundary():
    """/L (and /Length) delimit the data exactly — an embedded qualifying
    ' EI ' inside the counted bytes must NOT terminate early."""
    data = "junk EI more (gone) Tj end"
    for key in ("L", "Length"):
        body = (
            "BT /F1 12 Tf 72 700 Td (alpha head) Tj ET\n"
            f"BI /W 2 /H 2 /{key} {len(data)} ID {data}\nEI\n"
            "BT /F1 12 Tf 72 650 Td (bravo tail) Tj ET"
        )
        assert _texts(_pdf(body)) == ["alpha head", "bravo tail"]


def test_inline_image_inside_text_object_preserves_state():
    """An image inside BT..ET leaves x/y/leading/fontsize untouched."""
    body = (
        "BT /F1 10 Tf 14 TL 72 700 Td (one long line) Tj\n"
        "BI /Length 16 ID (x) Tj BT 9 Tf EI T* (two long line) Tj ET"
    )
    twin = "BT /F1 10 Tf 14 TL 72 700 Td (one long line) Tj\nT* (two long line) Tj ET"
    assert extract_payload(_pdf(body)) == extract_payload(_pdf(twin))


def test_inline_image_scan_traps_not_boundaries():
    """'EI' preceded by a non-whitespace char, or followed by a regular
    char, never terminates; the first qualifying boundary does."""
    body = (
        "BT /F1 12 Tf 72 700 Td (papa line) Tj ET\n"
        "BI /W 1 /H 1 ID aEI bEI( EIq EI7 qEI\nEI\n"
        "BT /F1 12 Tf 72 650 Td (quebec line) Tj ET"
    )
    assert _texts(_pdf(body)) == ["papa line", "quebec line"]


def test_inline_image_length_in_array_ignored():
    """The /L pair inside an array capture is NOT a top-level operand — the
    scan rule applies instead."""
    body = (
        "BT /F1 12 Tf 72 700 Td (papa line) Tj ET\n"
        "BI [ /L 4 ] ID ab(gone) Tj\nEI\n"
        "BT /F1 12 Tf 72 650 Td (quebec line) Tj ET"
    )
    assert _texts(_pdf(body)) == ["papa line", "quebec line"]


def test_inline_image_oversized_length_falls_back_to_scan():
    body = (
        "BT /F1 12 Tf 72 700 Td (papa line) Tj ET BI /L 99999 ID data(gone) Tj\nEI\n"
        "BT /F1 12 Tf 72 650 Td (quebec line) Tj ET"
    )
    assert _texts(_pdf(body)) == ["papa line", "quebec line"]


def test_inline_image_unterminated_ends_scan():
    """No qualifying EI → rest of the stream is image data; prior text
    survives, nothing after is interpreted."""
    body = (
        "BT /F1 12 Tf 72 700 Td (kept) Tj ET\n"
        "BI /W 1 ID junk (gone) Tj BT (alsogone) Tj ET"
    )
    assert _texts(_pdf(body)) == ["kept"]


def test_inline_image_empty_data_immediate_ei():
    body = "BT /F1 12 Tf 72 700 Td (mike line) Tj ET BI ID EI BT /F1 12 Tf 72 650 Td (nov line) Tj ET"
    assert _texts(_pdf(body)) == ["mike line", "nov line"]


# ---------------------------------------------------------------------------
# v9: form XObjects (Do) + text render mode (Tr) — SPEC §3b
# ---------------------------------------------------------------------------

def _form_pdf(page_ops: str, forms: str, xents: str) -> str:
    """One page + explicit /XObject resources + caller-supplied form objects."""
    return _pdf(page_ops, forms, f" /Resources << /XObject << {xents} >> >>")


def test_form_xobject_matrix_composes_and_not_a_page():
    """The form's full /Matrix composes with the CTM at Do (SPEC §3b
    Graphics state, v20 — replacing the v9 translation-only pin); its
    stream is never a page."""
    forms = (
        "5 0 obj\n<< /Type /XObject /Subtype /Form /Matrix [2 0 0 0.5 0 -100]"
        " /Length 52 >>\nstream\n"
        "BT /F1 10 Tf 72 500 Td (letterhead text) Tj ET\nendstream\nendobj\n"
    )
    doc = _form_pdf("BT /F1 12 Tf 72 700 Td (body) Tj ET\n/Fx Do", forms, "/Fx 5 0 R")
    parsed, dropped = parse_realpdf(doc)
    assert dropped == 0
    assert [p for p, _b in parsed] == [0, 0]  # ONE page, form is not a page
    body, form = parsed[0][1], parsed[1][1]
    assert form[5] == "letterhead text"
    # x = 2·72 = 144 → X0 = round(144·800/612) = 188; y = 0.5·500 − 100
    # = 150, height 0.5·10 = 5 → Y0 = round((792−155)·1000/792) = 804.
    assert (form[0], form[1]) == (188, 804)
    assert _texts(doc) == ["body", "letterhead text"]


def test_form_do_inside_text_object_preserves_invoker_state():
    """Do inside BT: the invoker's x/y/fontsize/buffer survive untouched
    and the pending buffer is NOT flushed by the Do."""
    forms = (
        "5 0 obj\n<< /Subtype /Form /Matrix [1 0 0 1 0 0] /Length 44 >>\n"
        "stream\nBT /F1 8 Tf 200 300 Td (stamp) Tj ET\nendstream\nendobj\n"
    )
    ops = "BT /F1 12 Tf 72 700 Td (before ) Tj\n/Fx Do\n(after) Tj ET"
    doc = _form_pdf(ops, forms, "/Fx 5 0 R")
    # the stamp box is EMITTED first (paint order at the Do), but the
    # invoker's line assembles unbroken afterwards
    assert sorted(_texts(doc)) == ["before after", "stamp"]


def test_form_nested_and_cycle_guard():
    """A invokes B; B invokes A again (cycle) — the chain guard breaks the
    loop: each form paints exactly once."""
    forms = (
        "5 0 obj\n<< /Subtype /Form /Matrix [1 0 0 1 0 -20]"
        " /Resources << /XObject << /Fy 6 0 R >> >> /Length 48 >>\n"
        "stream\nBT /F1 9 Tf 72 400 Td (form A) Tj ET\n/Fy Do\nendstream\nendobj\n"
        "6 0 obj\n<< /Subtype /Form"
        " /Resources << /XObject << /Fx 5 0 R >> >> /Length 48 >>\n"
        "stream\nBT /F1 9 Tf 72 350 Td (form B) Tj ET\n/Fx Do\nendstream\nendobj\n"
    )
    doc = _form_pdf("BT /F1 12 Tf 72 700 Td (page) Tj ET\n/Fx Do", forms, "/Fx 5 0 R")
    assert _texts(doc) == ["page", "form A", "form B"]


def test_form_depth_cap():
    """A chain of 12 DISTINCT forms stops painting at depth 8 (page=0)."""
    forms = []
    for i in range(12):
        num = 5 + i
        nxt = f"\n/N Do" if i < 11 else ""
        res = (
            f" /Resources << /XObject << /N {num + 1} 0 R >> >>" if i < 11 else ""
        )
        body = f"BT /F1 9 Tf 72 {700 - 12 * i} Td (level {i}) Tj ET{nxt}"
        forms.append(
            f"{num} 0 obj\n<< /Subtype /Form{res} /Length {len(body)} >>\n"
            f"stream\n{body}\nendstream\nendobj\n"
        )
    doc = _form_pdf("/N0 Do", "".join(forms), "/N0 5 0 R")
    assert _texts(doc) == [f"level {i}" for i in range(8)]  # depths 1..8 paint


def test_form_unresolvable_targets_noop():
    """Image subtype, unknown name, non-stream target, bare Do, and a
    /Length-less garbage object: all no-ops, page text intact."""
    forms = (
        "5 0 obj\n<< /Subtype /Image /Length 6 >>\nstream\nABCDEF\nendstream\nendobj\n"
        "6 0 obj\n<< /Kind /NotAStream >>\nendobj\n"
    )
    ops = (
        "BT /F1 12 Tf 72 700 Td (survives) Tj ET\n"
        "/Im Do\n/Missing Do\n/Obj Do\nDo\n17 Do"
    )
    doc = _form_pdf(ops, forms, "/Im 5 0 R /Obj 6 0 R")
    assert _texts(doc) == ["survives"]


def test_form_only_page_counts_ordinal():
    """A page whose text lives entirely in a form (no BT in the page
    stream) still counts toward the page ordinal (v9 amendment)."""
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2"
        " /MediaBox [0 0 612 792] >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Contents 5 0 R"
        " /Resources << /XObject << /Fx 7 0 R >> >> >>\nendobj\n"
        "4 0 obj\n<< /Type /Page /Contents 6 0 R >>\nendobj\n"
        "5 0 obj\n<< /Length 6 >>\nstream\n/Fx Do\nendstream\nendobj\n"
        "6 0 obj\n<< /Length 40 >>\n"
        "stream\nBT /F1 12 Tf 72 700 Td (page two) Tj ET\nendstream\nendobj\n"
        "7 0 obj\n<< /Subtype /Form /Length 42 >>\n"
        "stream\nBT /F1 12 Tf 72 650 Td (page one) Tj ET\nendstream\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    parsed, _d = parse_realpdf(doc)
    assert [(p, b[5]) for p, b in parsed] == [(0, "page one"), (1, "page two")]
    assert _texts(doc) == ["page one", "page two"]


def test_tr_invisible_extracted_by_default_dropped_on_config():
    """Mode-3 text (the OCR layer) is extracted by default; with
    drop_invisible_text=True each suppressed show op counts dropped."""
    ops = (
        "BT /F1 12 Tf 14 TL 72 700 Td (visible) Tj\n"
        "3 Tr T* (ocr line one) Tj T* [(ocr) -300 (two)] TJ\n"
        "0 Tr T* (visible again) Tj ET"
    )
    doc = _pdf(ops)
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc) == ["visible", "ocr line one", "ocr two", "visible again"]
    assert _texts(doc, cfg) == ["visible", "visible again"]
    assert _dropped(doc, cfg) == _dropped(doc) + 2  # Tj + TJ suppressed


def test_tr_persists_across_bt_resets_per_stream():
    """Render mode persists across BT blocks within a stream (like
    fontsize) and resets for the next stream/form."""
    cfg = ExtractConfig(drop_invisible_text=True)
    ops1 = (
        "BT /F1 12 Tf 72 700 Td 3 Tr (hidden one) Tj ET\n"
        "BT 72 650 Td (still hidden) Tj ET"
    )
    ops2 = "BT /F1 12 Tf 72 600 Td (fresh stream visible) Tj ET"
    doc = (
        "%PDF-1.4\n"
        f"4 0 obj\n<< /Length {len(ops1)} >>\nstream\n{ops1}\nendstream\nendobj\n"
        f"5 0 obj\n<< /Length {len(ops2)} >>\nstream\n{ops2}\nendstream\nendobj\n"
    )
    assert _texts(doc, cfg) == ["fresh stream visible"]


# ---------------------------------------------------------------------------
# v10: /Rotate display rotation + per-page /MediaBox inheritance — SPEC §3b
# ---------------------------------------------------------------------------

def _pages_pdf(pages: list, pages_extra: str = "") -> str:
    """n pages with per-page (content_ops, page_extra) and an optional
    Pages-node suffix (/Rotate etc.)."""
    n = len(pages)
    kids = " ".join(f"{3 + i} 0 R" for i in range(n))
    parts = [
        "%PDF-1.4",
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj",
        f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /Count {n}"
        f" /MediaBox [0 0 612 792]{pages_extra} >>\nendobj",
    ]
    for i, (_ops, extra) in enumerate(pages):
        parts.append(
            f"{3 + i} 0 obj\n<< /Type /Page /Parent 2 0 R"
            f" /Contents {3 + n + i} 0 R{extra} >>\nendobj"
        )
    for i, (ops, _extra) in enumerate(pages):
        parts.append(
            f"{3 + n + i} 0 obj\n<< /Length {len(ops)} >>\n"
            f"stream\n{ops}\nendstream\nendobj"
        )
    parts.append("trailer\n<< /Root 1 0 R >>\n%%EOF")
    return "\n".join(parts)


_LINE = "BT /F1 12 Tf 72 700 Td (twelve chars) Tj ET"


def _box_of(doc):
    _parity(doc)
    parsed, _d = parse_realpdf(doc)
    assert len(parsed) == 1
    return parsed[0][1][:4]


def test_rotate_all_quadrants_and_normalization():
    """/Rotate 90/180/270 map the same user-space line per the corner
    table; 360 and 450 normalize; 45 (not a multiple of 90) → 0."""
    b0 = _box_of(_pages_pdf([(_LINE, "")]))
    # user extent: u∈[72,144] (adv=0.5*12*12=72), v∈[700,712]
    assert b0 == (94, 101, 188, 116)
    b90 = _box_of(_pages_pdf([(_LINE, " /Rotate 90")]))
    # r90: X=v∈[700,712] *800/792; Y=u∈[72,144] *1000/612
    assert b90 == (707, 118, 719, 235)
    b180 = _box_of(_pages_pdf([(_LINE, " /Rotate 180")]))
    # r180: X=612-u reversed ∈[468,540] *800/612; Y=v∈[700,712] *1000/792
    assert b180 == (612, 884, 706, 899)
    b270 = _box_of(_pages_pdf([(_LINE, " /Rotate 270")]))
    # r270: X=792-v∈[80,92] *800/792; Y=612-u∈[468,540] *1000/612
    assert b270 == (81, 765, 93, 882)
    assert _box_of(_pages_pdf([(_LINE, " /Rotate 360")])) == b0
    assert _box_of(_pages_pdf([(_LINE, " /Rotate 450")])) == b90
    assert _box_of(_pages_pdf([(_LINE, " /Rotate 45")])) == b0


def test_rotate_inherited_from_pages_node():
    """/Rotate on the Pages node applies to every kid; a kid's own value
    overrides (independent walks)."""
    doc = _pages_pdf(
        [(_LINE, ""), (_LINE, " /Rotate 0")], pages_extra=" /Rotate 90"
    )
    parsed, _d = parse_realpdf(doc)
    assert parsed[0][1][:4] == (707, 118, 719, 235)  # inherited 90
    assert parsed[1][1][:4] == (94, 101, 188, 116)   # own 0 overrides
    _parity(doc)


def test_page_local_mediabox_and_degenerate_fallback():
    """A page's own /MediaBox wins; a degenerate extent is ignored and the
    /Parent walk continues to the Pages-node size."""
    line400 = "BT /F1 10 Tf 40 200 Td (low line) Tj ET"
    doc = _pages_pdf([
        (line400, " /MediaBox [0 0 400 400]"),
        (line400, " /MediaBox [0 0 0 792]"),  # w=0 → inherited 612x792
    ])
    parsed, _d = parse_realpdf(doc)
    own, inherited = parsed[0][1], parsed[1][1]
    # own 400x400: X0=40*2=80, Y0=(400-210)*2.5=475
    assert own[:4] == (80, 475, 160, 500)
    # inherited 612x792: X0=round(40*800/612)=52
    assert inherited[0] == 52
    _parity(doc)


def test_rotation_applies_to_forms_of_the_page():
    """A form painted via Do canonicalizes with the INVOKING page's
    rotation (forms inherit page geometry)."""
    forms = (
        "5 0 obj\n<< /Subtype /Form /Matrix [1 0 0 1 0 -100] /Length 46 >>\n"
        "stream\nBT /F1 12 Tf 72 800 Td (twelve chars) Tj ET\nendstream\nendobj\n"
    )
    doc = _form_pdf("/Fx Do", forms, "/Fx 5 0 R")
    # wedge /Rotate 90 into the page object
    doc_rot = doc.replace("/Contents 4 0 R", "/Contents 4 0 R /Rotate 90")
    b = _box_of(doc_rot)
    # form line lands at user y=700 (800-100): same as _LINE under r90
    assert b == (707, 118, 719, 235)


def test_parent_chain_cycle_and_hop_bound():
    """A /Parent cycle ends the geometry walk (document default applies);
    never hangs."""
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /Parent 3 0 R >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Rotate 90 >>\nendobj\n"
        f"4 0 obj\n<< /Length {len(_LINE)} >>\nstream\n{_LINE}\nendstream\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    b = _box_of(doc)  # rotate applies; MediaBox default 612x792 (cycle → default)
    assert b == (707, 118, 719, 235)


# ---------------------------------------------------------------------------
# v11: /Encrypt whole-payload refusal + Tc/Tw spacing-aware advance
# ---------------------------------------------------------------------------

def test_encrypt_refusal_whole_payload():
    """A token-exact /Encrypt anywhere → zero spans, n_dropped=1, kind
    stays pdf_real; /EncryptMetadata does NOT match."""
    ops = "BT /F1 12 Tf 72 700 Td (secret) Tj ET"
    doc = _pdf(ops).replace(
        "trailer\n<< /Root 1 0 R >>", "trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>"
    )
    assert _parity(doc) == [] and _dropped(doc) == 1
    meta = _pdf(ops).replace(
        "trailer\n<< /Root 1 0 R >>",
        "trailer\n<< /Root 1 0 R /EncryptMetadata true >>",
    )
    assert _texts(meta) == ["secret"]


def test_tc_tw_advance_and_clamp():
    """Tc/Tw widen the advance (per SPEC flush formula) and a negative
    total clamps at zero width."""
    base = _box_of(_pages_pdf([(_LINE, "")]))
    wide = _box_of(_pages_pdf([(_LINE.replace("Td", "Td 2 Tc 4 Tw"), "")]))
    # "twelve chars": 12 chars, 1 space → adv 72 → 72+2*12+4*1=100
    assert wide[2] - wide[0] > base[2] - base[0]
    assert wide[:2] == base[:2]
    neg = "BT /F1 12 Tf -20 Tc 72 700 Td (abc) Tj ET"
    b = _box_of(_pages_pdf([(neg, "")]))
    assert b[0] == b[2]  # clamped zero-width advance


def test_tc_tw_persist_across_bt():
    """Spacing persists across BT blocks within a stream, like fontsize."""
    ops = (
        "BT /F1 12 Tf 3 Tc 72 700 Td (one space here) Tj ET\n"
        "BT 72 650 Td (one space here) Tj ET"
    )
    doc = _pages_pdf([(ops, "")])
    parsed, _d = parse_realpdf(doc)
    w0 = parsed[0][1][2] - parsed[0][1][0]
    w1 = parsed[1][1][2] - parsed[1][1][0]
    assert w0 == w1  # second BT still pays the Tc term
    _parity(doc)


# ---------------------------------------------------------------------------
# v12: Tz horizontal scaling + Ts rise — the last §9.3 text-state params
# ---------------------------------------------------------------------------

def test_tz_scales_advance_and_negative_clamps():
    """Tz multiplies the whole advance by h/100 (SPEC flush formula, v12);
    a negative Tz clamps to a zero-width box."""
    base = _box_of(_pages_pdf([(_LINE, "")]))
    dbl = _box_of(_pages_pdf([(_LINE.replace("Td", "Td 200 Tz"), "")]))
    half = _box_of(_pages_pdf([(_LINE.replace("Td", "Td 50 Tz"), "")]))
    assert dbl[2] - dbl[0] == 2 * (base[2] - base[0])
    assert (dbl[:2], dbl[3]) == (base[:2], base[3])  # origin/height untouched
    assert half[2] - half[0] < base[2] - base[0]
    neg = _box_of(_pages_pdf([(_LINE.replace("Td", "Td -40 Tz"), "")]))
    assert neg[0] == neg[2]  # clamped zero-width
    # Tz also scales the Tc/Tw spacing terms (ISO: tx = (w0·fs+Tc+Tw)·Th)
    spaced = _box_of(_pages_pdf([(_LINE.replace("Td", "Td 2 Tc 4 Tw"), "")]))
    spaced2x = _box_of(
        _pages_pdf([(_LINE.replace("Td", "Td 2 Tc 4 Tw 200 Tz"), "")])
    )
    assert spaced2x[2] - spaced2x[0] == 2 * (spaced[2] - spaced[0])


def test_ts_rise_shifts_baseline():
    """Ts shifts the baseline at flush time: the box moves UP by rise in
    user space (down in canonical top-left coords), width untouched."""
    base = _box_of(_pages_pdf([(_LINE, "")]))
    risen = _box_of(_pages_pdf([(_LINE.replace("Td", "Td 10 Ts"), "")]))
    assert risen[2] - risen[0] == base[2] - base[0]
    assert risen[1] < base[1] and risen[3] < base[3]  # higher on the page
    # same user-space height; canonical edges round independently → ±1
    assert abs((risen[3] - risen[1]) - (base[3] - base[1])) <= 1
    sunk = _box_of(_pages_pdf([(_LINE.replace("Td", "Td -10 Ts"), "")]))
    assert sunk[1] > base[1]


def test_tz_ts_persist_across_bt_reset_per_stream_and_form():
    """Tz/Ts persist across BT within a stream (like fontsize) and reset
    in a fresh stream — and a form's fresh text state does not leak the
    invoker's scaling."""
    ops = (
        "BT /F1 12 Tf 200 Tz 5 Ts 72 700 Td (twelve chars) Tj ET\n"
        "BT 72 650 Td (twelve chars) Tj ET"
    )
    doc = _pages_pdf([(ops, "")])
    parsed, _d = parse_realpdf(doc)
    w0 = parsed[0][1][2] - parsed[0][1][0]
    w1 = parsed[1][1][2] - parsed[1][1][0]
    assert w0 == w1  # second BT still pays the Tz factor
    # second page: fresh stream, defaults restored
    doc2 = _pages_pdf([(ops, ""), (_LINE, "")])
    parsed2, _d2 = parse_realpdf(doc2)
    pages = {}
    for pg, box in parsed2:
        pages.setdefault(pg, []).append(box)
    base_w = pages[1][0][2] - pages[1][0][0]
    assert pages[0][0][2] - pages[0][0][0] == 2 * base_w
    _parity(doc2)


# --- v13: /Encoding /Differences fonts + three-operand " (SPEC §3b) ---------


def _font_pdf(fontobj: str, body: str, extra_objs: str = "") -> str:
    return _pdf(f"BT /F7 12 Tf 16 TL 72 700 Td {body} ET",
                _obj(5, fontobj) + extra_objs, _fonts("/F7 5 0 R"))


def test_differences_decode_inline_dict():
    """Remapped codes decode through the AGL-subset table; unlisted codes
    stay identity (base encoding is the identity, SPEC §3b v13)."""
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type1 /Encoding"
        " << /Differences [ 128 /Euro 145 /quoteleft /quoteright ] >> >>",
        "<80918079919220616E6420706C61696E20746578742068657265> Tj",
    )
    assert _texts(doc)[0] == "€‘€y‘’ and plain text here"


def test_differences_referenced_encoding_object():
    """/Encoding as a ref to a /Type /Encoding object; uniXXXX form and an
    unknown glyph name that must stay identity."""
    doc = _font_pdf(
        "<< /Type /Font /Encoding 6 0 R >>",
        "<808182832077697468206D6F726520776F7264732068657265> Tj",
        "6 0 obj\n<< /Type /Encoding /Differences"
        " [ 128 /emdash /uni0041 /zz7unknown ] >>\nendobj\n",
    )
    spans = _parity(doc)
    # 0x80→emdash, 0x81→uni0041='A', 0x82 unknown→identity, 0x83 unmapped
    assert spans[0][2].startswith("—A\x82\x83 with")


def test_differences_range_traps_and_restarts():
    """Out-of-range codes skip-but-increment; integer restarts; a malformed
    token resets so following names cannot map."""
    doc = _font_pdf(
        "<< /Type /Font /Encoding << /Differences"
        " [ -1 /emdash 300 /bullet 128 /Euro 255 /fl bad /endash ] >> >>",
        "<80FF2061626320776F72647320686572652E> Tj",
    )
    assert _texts(doc)[0] == "€ﬂ abc words here."


def test_differences_tounicode_precedence():
    """A font carrying BOTH a parsable ToUnicode and a conflicting
    Differences decodes via the CMap (§9.10.2 preference order)."""
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 beginbfrange\n<24> <7F> <0023>\nendbfrange\nendcmap\nend"
    )
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R"
        " /Encoding << /Differences [ 36 /bullet ] >> >>",
        "<2425262728292A2B2C2D2E2F3031> Tj",
        f"6 0 obj\n<< /Length {len(cmap)} >>\nstream\n{cmap}\n"
        "endstream\nendobj\n",
    )
    spans = _parity(doc)
    # shift-by-one CMap applies; 0x24 → '#', NOT the Differences bullet
    assert spans[0][2].startswith("#$%&'()*+,-./0")


def test_differences_bare_name_encoding_is_identity():
    doc = _font_pdf(
        "<< /Type /Font /Encoding /WinAnsiEncoding >>",
        "(plain words stay as they are) Tj",
    )
    assert _texts(doc)[0] == "plain words stay as they are"


def test_glyph_tables_kernel_oracle_equal():
    """The AGL-subset tables are independent representations of the same
    public data — content must be identical."""
    from paddleocr_spark.functions.realpdf import _GLYPH_UNI
    from paddleocr_spark.oracle import _RPDF_GLYPH_UNI

    assert _GLYPH_UNI == _RPDF_GLYPH_UNI


def test_dquote_sets_spacing_and_persists():
    """aw ac string " ≡ aw Tw ac Tc string ' (ISO §9.4.3): the spacing is
    in effect for the flush it triggers AND persists for later shows."""
    base = _pages_pdf([(
        "BT /F1 12 Tf 16 TL 72 700 Td (twelve chars) Tj T*"
        " (twelve chars) ' ET", "")])
    wide = _pages_pdf([(
        "BT /F1 12 Tf 16 TL 72 700 Td (twelve chars) Tj"
        ' 4 2 (twelve chars) " T* (twelve chars) Tj ET', "")])
    pb, _ = parse_realpdf(base)
    pw, _ = parse_realpdf(wide)
    w_base = pb[1][1][2] - pb[1][1][0]
    # the "-shown line pays Tc=2 (12 chars) + Tw=4 (1 space): +28 user units
    assert pw[1][1][2] - pw[1][1][0] > w_base
    # the NEXT line (plain Tj) still pays it — spacing persisted
    assert pw[2][1][2] - pw[2][1][0] == pw[1][1][2] - pw[1][1][0]
    # first line (flushed by " AFTER the operands were set) pays it too:
    # Tw/Tc set state without flushing, so the flush sees the new values
    assert pb[0][1][2] - pb[0][1][0] == w_base
    assert pw[0][1][2] - pw[0][1][0] > w_base
    for doc in (base, wide):
        _parity(doc)


def test_dquote_negative_clamp_and_missing_operands():
    """Negative spacing from " clamps the advance at zero; a " without
    numeric operands degrades to the ' behavior (no state change)."""
    neg = _pages_pdf([(
        'BT /F1 12 Tf 16 TL 72 700 Td -30 -3 (abc def) " ET', "")])
    pn, _ = parse_realpdf(neg)
    assert pn[0][1][0] == pn[0][1][2]  # zero-width clamp
    bare = _pages_pdf([(
        'BT /F1 12 Tf 16 TL 72 700 Td (first words) Tj (next words) " ET',
        "")])
    pb, _ = parse_realpdf(bare)
    b = _pages_pdf([(
        "BT /F1 12 Tf 16 TL 72 700 Td (first words) Tj (next words) ' ET",
        "")])
    pq, _ = parse_realpdf(b)
    assert [x[1] for x in pb] == [x[1] for x in pq]
    for doc in (neg, bare, b):
        _parity(doc)


# --- v14: /Contents arrays — multi-part page content (SPEC §3b) -------------


def _array_pdf(contents_val: str, stream_objs: list, font: str = "") -> str:
    res = " /Resources << /Font << /F7 90 0 R >> >>" if font else ""
    parts = [
        "%PDF-1.4",
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj",
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1"
        " /MediaBox [0 0 612 792] >>\nendobj",
        f"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents {contents_val}"
        f"{res} >>\nendobj",
    ]
    for num, c in stream_objs:
        parts.append(
            f"{num} 0 obj\n<< /Length {len(c)} >>\nstream\n{c}\n"
            "endstream\nendobj"
        )
    if font:
        parts.append(f"90 0 obj\n{font}\nendobj")
    parts.append("trailer\n<< /Root 1 0 R >>\n%%EOF")
    return "\n".join(parts)


def test_contents_array_state_flows_across_parts():
    """A mid-BT split: text state (font size, leading, open text object)
    flows across the part boundary, and the split page extracts exactly
    like its unsplit twin."""
    split = _array_pdf("[5 0 R 6 0 R]", [
        (5, "BT /F1 12 Tf 16 TL 72 700 Td (first half of the line) Tj"),
        (6, "T* (second part continues here) Tj ET"),
    ])
    whole = _array_pdf("4 0 R", [
        (4, "BT /F1 12 Tf 16 TL 72 700 Td (first half of the line) Tj\n"
            "T* (second part continues here) Tj ET"),
    ])
    s1 = _parity(split)
    s2 = _parity(whole)
    assert [x[1:] for x in s1] == [x[1:] for x in s2]
    assert [x[2] for x in s1] == [
        "first half of the line", "second part continues here"
    ]


def test_contents_array_fonts_apply_to_all_parts():
    doc = _array_pdf(
        "[5 0 R 6 0 R]",
        [
            (5, "BT /F7 12 Tf 16 TL 72 700 Td <809180> Tj"),
            (6, "T* <80912061626320646566> Tj ET"),
        ],
        font="<< /Type /Font /Encoding"
             " << /Differences [ 128 /Euro 145 /quoteleft ] >> >>",
    )
    assert _texts(doc) == ["€‘€", "€‘ abc def"]


def test_contents_array_order_and_traps():
    """Array order beats document order; a missing part is skipped; a
    duplicate ref repeats; a one-element array behaves like a single."""
    doc_order = _array_pdf("[6 0 R 5 0 R]", [
        (5, "(tail of the page) Tj ET"),
        (6, "BT /F1 12 Tf 16 TL 72 700 Td (head of the page) Tj T*"),
    ])
    assert _texts(doc_order) == ["head of the page", "tail of the page"]
    missing = _array_pdf("[5 0 R 77 0 R 6 0 R]", [
        (5, "BT /F1 12 Tf 16 TL 72 700 Td (alpha words here) Tj"),
        (6, "T* (omega words here) Tj ET"),
    ])
    assert _texts(missing) == ["alpha words here", "omega words here"]
    dup = _array_pdf("[5 0 R 5 0 R]", [
        (5, "BT /F1 12 Tf 16 TL 72 700 Td (repeated words here) Tj T* ET"),
    ])
    assert _texts(dup) == ["repeated words here"] * 2
    single = _array_pdf("[5 0 R]", [
        (5, "BT /F1 12 Tf 72 700 Td (single element array) Tj ET"),
    ])
    assert _texts(single) == ["single element array"]


def test_contents_array_malformed_tail_and_orphan():
    """A malformed array element ends the ref read: the page keeps the
    refs before it, and a later stream becomes its own (fontless) page."""
    doc = _array_pdf("[5 0 R garbage 6 0 R]", [
        (5, "BT /F1 12 Tf 72 700 Td (kept before garbage) Tj ET"),
        (6, "BT /F1 12 Tf 72 600 Td (an orphan page now) Tj ET"),
    ])
    assert _texts(doc) == [
        "kept before garbage", "an orphan page now"
    ]


# --- v15: inherited /Resources (ISO §7.7.3.4, SPEC §3b) ----------------------


def _tree_pdf(pages_res: str, page_res: str, body: str) -> str:
    font = "<< /Type /Font /Encoding << /Differences [ 128 /Euro 145 /quoteleft ] >> >>"
    return _pdf(f"BT /F7 12 Tf 16 TL 72 700 Td {body} ET", _obj(5, font), page_res,
                pages=pages_res, trailer=TRAILER[:-1])


_RES7 = " /Resources << /Font << /F7 5 0 R >> >>"


def test_resources_inherited_from_pages_node():
    """A page without /Resources inherits the Pages node's — the body
    decodes through the inherited font table."""
    doc = _tree_pdf(_RES7, "", "<80919220616263> Tj")
    assert _texts(doc)[0] == "€‘\x92 abc"


def test_resources_page_level_wins_and_broken_masks():
    """A page-level /Resources wins over the ancestor's; a PRESENT but
    broken one (ref to a missing object) must mask it too — identity."""
    own = _tree_pdf(
        " /Resources << /Font << /F7 9 0 R >> >>", _RES7,
        "<80206162632064656667> Tj",
    )
    assert _texts(own)[0] == "€ abc defg"  # page's own table decodes
    broken = _tree_pdf(_RES7, " /Resources 99 0 R", "(plain text words) Tj")
    assert _texts(broken)[0] == "plain text words"
    encoded = _tree_pdf(_RES7, " /Resources 99 0 R", "<61626320776F726473> Tj")
    assert _texts(encoded)[0] == "abc words"  # hex decodes latin-1 identity


def test_resources_inheritance_walk_bounds():
    """The walk shares the v10 contract: a /Parent cycle ends it."""
    content = "BT /F7 12 Tf 72 700 Td <806162> Tj ET"
    doc = "\n".join([
        "%PDF-1.4",
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj",
        # 2 and 7 form a parent cycle with no /Resources anywhere above 3
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1"
        " /MediaBox [0 0 612 792] /Parent 7 0 R >>\nendobj",
        "7 0 obj\n<< /Parent 2 0 R >>\nendobj",
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj",
        f"4 0 obj\n<< /Length {len(content)} >>\nstream\n{content}\n"
        "endstream\nendobj",
        "5 0 obj\n<< /Type /Font /Encoding"
        " << /Differences [ 128 /Euro ] >> >>\nendobj",
        "trailer\n<< /Root 1 0 R >>\n%%EOF",
    ])
    assert _texts(doc)[0] == "\x80ab"  # identity: no resources found


# ---------------------------------------------------------------------------
# v16: incremental updates (ISO 32000 §7.5.6) + classic xref skeletons.
# Supersession rule (SPEC §3b Incremental updates): the LAST definition of
# an object number wins, and a stream inside a superseded definition is
# inert — never decoded, never interpreted, never counted — but ONLY in
# documents carrying >= 2 raw %%EOF markers (every real update section
# appends its own %%EOF). Single-section duplicates are malformed input:
# both definitions stay live (pinned).

_V16_OLD = "BT /F1 12 Tf 72 700 Td (original body line) Tj ET"
_V16_NEW = "BT /F1 12 Tf 72 700 Td (revised body line) Tj ET"


def _v16_single(ops: str, tail: str = TRAILER[:-1]) -> str:
    return _pdf(ops, trailer=tail)


def _v16_upd_tail(prev: int = 9) -> str:
    return f"trailer\n<< /Root 1 0 R /Prev {prev} >>\n%%EOF"


def _v16_xref_tail(nobj: int) -> str:
    """Classic xref table + trailer + startxref (ISO §7.5.4/§7.5.5) — pure
    inert bytes to the xref-free scanner (offsets are not even read)."""
    lines = ["xref", f"0 {nobj + 1}", "0000000000 65535 f "]
    lines += [f"{17 * (i + 1):010d} 00000 n " for i in range(nobj)]
    lines += [
        "trailer",
        f"<< /Root 1 0 R /Size {nobj + 1} >>",
        "startxref",
        "9999",
        "%%EOF",
    ]
    return "\n".join(lines)


def test_update_replaces_content_stream():
    doc = _v16_single(_V16_OLD) + "\n" + _stream(4, _V16_NEW) + _v16_upd_tail()
    texts = _texts(doc)
    assert any("revised body line" in t for t in texts)
    assert not any("original" in t for t in texts)
    # supersession is correct behavior, not a failure: nothing is counted
    assert _dropped(doc) == 0 and len(texts) == 1


def test_single_section_duplicate_keeps_both():
    # ONE %%EOF: a duplicate object number is malformed input, not an
    # incremental update — both stream bodies stay live and both render
    doc = (
        _v16_single(_V16_OLD, tail=_stream(4, _V16_NEW))
        + "trailer\n<< /Root 1 0 R >>\n%%EOF"
    )
    assert doc.count("%%EOF") == 1
    texts = _texts(doc)
    assert any("original" in t for t in texts)
    assert any("revised" in t for t in texts)
    assert texts.index(next(t for t in texts if "original" in t)) < texts.index(
        next(t for t in texts if "revised" in t)
    )


def test_classic_xref_skeleton_inert():
    a = _texts(_v16_single(_V16_OLD))
    b = _texts(_v16_single(_V16_OLD, tail=_v16_xref_tail(4)))
    assert a == b and a  # xref/trailer/startxref bytes change nothing


def _v16_cmap_obj(num: int, src: str, dst: str) -> str:
    return _stream(num, "/CIDInit /ProcSet findresource begin\nbegincmap\n"
                   f"1 beginbfchar\n<{src}> <{dst}>\nendbfchar\nendcmap\nend")


def test_update_replaces_tounicode_cmap():
    base = _font_pdf(
        "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
        "<4141414141414141> Tj",
        extra_objs=_v16_cmap_obj(6, "41", "0058"),
    )
    assert "XXXXXXXX" in _texts(base)[0]  # pre-update decode sanity
    doc = base + _v16_cmap_obj(6, "41", "005A") + _v16_upd_tail()
    texts = _texts(doc)
    assert any("ZZZZZZZZ" in t for t in texts)  # winner CMap decodes
    assert not any("XXXXXXXX" in t for t in texts)


def test_update_page_redefinition_leaves_old_content_live():
    # the update points the PAGE at a new content object but never
    # redefines the old content object's number: a reference-free scanner
    # keeps the orphaned stream live — documented degrade, both mirror
    upd = (
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n"
        + _stream(5, _V16_NEW)
        + _v16_upd_tail()
    )
    texts = _texts(_v16_single(_V16_OLD) + "\n" + upd)
    assert any("original" in t for t in texts)
    assert any("revised" in t for t in texts)


def test_update_nonlast_page_heals_to_tree_order():
    # v21 heals the former reading-order degrade: the updated FIRST page's
    # content stream sits at the END of the byte stream, but the page tree
    # still lists it first — tree ordering reads it BEFORE the untouched
    # second page (pre-v21 this read at the update's byte position)
    p0 = "BT /F1 12 Tf 72 700 Td (first page body) Tj ET"
    p1 = "BT /F1 12 Tf 72 700 Td (second page body) Tj ET"
    base = _pages_pdf([(p0, ""), (p1, "")])
    doc = base + "\n" + _stream(5, _V16_NEW.replace("revised", "rewritten")) + _v16_upd_tail()
    texts = _texts(doc)
    assert not any("first page" in t for t in texts)
    i_second = next(i for i, t in enumerate(texts) if "second page" in t)
    i_new = next(i for i, t in enumerate(texts) if "rewritten" in t)
    assert i_new < i_second


def test_update_replaces_contents_array_part():
    # a superseded part is never stashed; the group trigger moves to the
    # update's definition (last interval start wins), so assembly happens
    # there with the REPLACED part content in array order
    parts = [
        (5, "BT /F1 12 Tf 72 700 Td (part one text) Tj"),
        (6, "0 -14 Td (part two text) Tj ET"),
    ]
    base = _array_pdf("[5 0 R 6 0 R]", parts)
    new_part = _stream(5, "BT /F1 12 Tf 72 700 Td (part one rewritten) Tj")
    doc = base + "\n" + new_part + _v16_upd_tail()
    texts = _texts(doc)
    joined = " ".join(texts)
    assert "part one rewritten" in joined and "part two text" in joined
    assert "part one text" not in joined


# ---------------------------------------------------------------------------
# v18: base encodings — /WinAnsiEncoding, /MacRomanEncoding (ISO 32000
# Annex D.2). Bare name, /BaseEncoding under a /Differences overlay, or a
# referenced /Type /Encoding object; ToUnicode still beats everything;
# any other bare name stays identity (pinned subset rule).


def test_winansi_bare_name_decodes_c1():
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>",
        "<93> Tj (quoted words here) Tj <9420976D6F7265> Tj",
    )
    assert _texts(doc)[0] == "“quoted words here” —more"


def test_macroman_bare_name_decodes_high_half():
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type1 /Encoding /MacRomanEncoding >>",
        "(caf) Tj <8E> Tj ( dash ) Tj <D0C9> Tj",
    )
    assert _texts(doc)[0] == "café dash –…"


def test_unknown_base_name_stays_identity():
    for nm in ("/StandardEncoding", "/PDFDocEncoding", "/NoSuchEncoding"):
        doc = _font_pdf(
            f"<< /Type /Font /Subtype /Type1 /Encoding {nm} >>",
            "(plain words stay put) Tj <93> Tj",
        )
        spans = _parity(doc)
        # identity decode: 0x93 stays the raw C1 char (no table, no scrub)
        assert spans[0][2] == "plain words stay put\x93", nm


def test_base_encoding_under_differences_overlay():
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type1 /Encoding << /BaseEncoding"
        " /WinAnsiEncoding /Differences [ 65 /emdash 147 /A ] >> >>",
        "<41> Tj ( mid ) Tj <93> Tj",
    )
    spans = _parity(doc)
    # 0x41 remapped by Differences (beats base identity); 0x93 remapped by
    # the SAME Differences even though the base also defines it
    assert spans[0][2] == "— mid A"


def test_base_encoding_via_referenced_encoding_object():
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type1 /Encoding 6 0 R >>",
        "(marker text) Tj <8E> Tj",
        extra_objs=(
            "6 0 obj\n<< /Type /Encoding /BaseEncoding /MacRomanEncoding >>"
            "\nendobj\n"
        ),
    )
    assert _texts(doc)[0] == "marker texté"  # MacRoman 0x8E = eacute


def test_tounicode_beats_base_encoding():
    doc = _font_pdf(
        "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R"
        " /Encoding /WinAnsiEncoding >>",
        "<41414141> Tj",
        extra_objs=_v16_cmap_obj(6, "41", "0058"),
    )
    assert _texts(doc)[0] == "XXXX"


def test_glyph_base_tables_kernel_oracle_equal():
    from paddleocr_spark.functions import realpdf as K
    from paddleocr_spark import oracle as O

    assert K._WINANSI_XLATE == O._RPDF_WINANSI
    assert K._MACROMAN_XLATE == O._RPDF_MACROMAN
    assert len(O._RPDF_MACROMAN) == 128 and len(O._RPDF_WINANSI) == 27


# ---------------------------------------------------------------------------
# v19: CropBox viewports (ISO 32000 §7.7.3.3 /CropBox, inheritable §7.7.3.4).
# A resolvable crop (positive raw extent; degenerate = walk continues, like
# MediaBox) clips to [0, mb_w]×[0, mb_h]; a positive clipped extent supplies
# the page extent and the viewport origin every user-space coordinate shifts
# by. No content clipping — re-origin only (pinned subset rule).

_V19_LINE = "BT /F1 12 Tf 72 700 Td (twelve chars body) Tj ET"


def test_cropbox_shifts_viewport_origin():
    base = _pages_pdf([(_V19_LINE, "")])
    crop = _pages_pdf([(_V19_LINE, " /CropBox [36 36 576 756]")])
    sb = _parity(base)
    sc = _parity(crop)
    assert sb[0][2] == sc[0][2] == "twelve chars body"
    assert sb[0][-1] != sc[0][-1]  # bbox shifted by the crop origin
    bx, cx = sb[0][-1], sc[0][-1]
    assert cx[0] < bx[0] and cx[1] < bx[1]  # origin moved toward top-left


def test_cropbox_inherited_from_pages_node():
    local = _pages_pdf([(_V19_LINE, " /CropBox [36 36 576 756]")])
    inherited = _pages_pdf(
        [(_V19_LINE, "")], pages_extra=" /CropBox [36 36 576 756]"
    )
    assert _parity(local) == _parity(inherited)


def test_cropbox_degenerate_ignored_and_oversize_clips():
    base = _parity(_pages_pdf([(_V19_LINE, "")]))
    degen = _parity(
        _pages_pdf([(_V19_LINE, " /CropBox [100 100 100 792]")])
    )
    oversize = _parity(
        _pages_pdf([(_V19_LINE, " /CropBox [-50 -50 9999 9999]")])
    )
    assert degen == base  # degenerate extent: crop ignored
    assert oversize == base  # clips to the full MediaBox: a no-op


def test_cropbox_composes_with_rotation():
    rot = _parity(_pages_pdf([(_V19_LINE, " /Rotate 90")]))
    both = _parity(
        _pages_pdf([(_V19_LINE, " /CropBox [36 36 576 756] /Rotate 90")])
    )
    assert rot[0][2] == both[0][2]
    assert rot[0][-1] != both[0][-1]  # crop shift visible in the rotated view


def test_cropbox_applies_to_forms_of_the_page():
    # the form's boxes shift by the SAME viewport origin (crop folds into
    # the interpreter offsets once, before form recursion)
    content = "BT /F1 12 Tf 72 700 Td (twelve chars body) Tj ET\n/Fx Do"
    form = "BT /F1 10 Tf 72 500 Td (letterhead body text) Tj ET"

    form_obj = _obj(5, f"<< /Type /XObject /Subtype /Form /Length {len(form)} >>\n"
                       f"stream\n{form}\nendstream")

    def doc(extra):
        return _pdf(content, form_obj, f" /Resources << /XObject << /Fx 5 0 R >> >>{extra}",
                    trailer=TRAILER[:-1])

    base = _parity(doc(""))
    crop = _parity(doc(" /CropBox [36 36 576 756]"))
    assert len(base) == len(crop) == 2
    assert all(b[-1] != c[-1] for b, c in zip(base, crop))


# ---------------------------------------------------------------------------
# v20: q/Q/cm graphics state (SPEC §3b Graphics state; ISO 32000 §8.4.4)
# ---------------------------------------------------------------------------


def test_cm_translate_equivalent_to_td():
    """A translate-only cm with local Td at the origin lands exactly where
    the same text placed by absolute Td lands (ISO §8.3.4 composition)."""
    via_cm = _pdf("q 1 0 0 1 72 500 cm BT /F1 12 Tf 0 0 Td (hello there) Tj ET Q")
    via_td = _pdf("BT /F1 12 Tf 72 500 Td (hello there) Tj ET")
    assert _parity(via_cm) == _parity(via_td)


def test_cm_scale_maps_baseline_and_height():
    """Scaled cm maps the baseline run through the CTM and scales the box
    height by the image of the unit vertical vector."""
    spans = _parity(
        _pdf("q 2 0 0 0.5 10 100 cm BT /F1 12 Tf 31 800 Td (scaled line) Tj ET Q")
    )
    assert [s[2] for s in spans] == ["scaled line"]
    # x = 2*31+10 = 72 -> X0 = round(72*800/612) = 94;
    # y = 0.5*800+100 = 500, height 0.5*12 = 6 -> Y0 = round((792-506)*1000/792) = 361
    assert (spans[0][4][0], spans[0][4][1]) == (94, 361)


def test_cm_nested_compose_and_sibling_after_inner_q():
    """Nested q/cm compose; a sibling block after the inner Q sees only the
    outer CTM — byte-equal to direct absolute placement."""
    nested = _pdf(
        "q 1 0 0 1 100 0 cm q 1 0 0 1 0 500 cm "
        "BT /F1 12 Tf 0 0 Td (inner line) Tj ET Q "
        "BT /F1 12 Tf 0 450 Td (outer sibling) Tj ET Q"
    )
    direct = _pdf(
        "BT /F1 12 Tf 100 500 Td (inner line) Tj ET "
        "BT /F1 12 Tf 100 450 Td (outer sibling) Tj ET"
    )
    assert _parity(nested) == _parity(direct)


def test_q_restores_text_state():
    """Q restores the §9.3.1 text-state params saved by q (ISO §8.4.2 puts
    text state inside the graphics state): Tf/Tc/Tw set inside q..Q do not
    leak into the following block."""
    spans = _parity(
        _pdf(
            "q 1 0 0 1 72 500 cm "
            "BT /F1 14 Tf 2 Tc 3 Tw 0 0 Td (styled inside) Tj ET Q "
            "BT /F1 12 Tf 72 460 Td (plain after) Tj ET"
        )
    )
    plain = _parity(_pdf("BT /F1 12 Tf 72 460 Td (plain after) Tj ET"))
    assert [s[2] for s in spans] == ["styled inside", "plain after"]
    # the post-Q block is byte-identical to the never-styled placement
    assert spans[1][2:] == plain[0][2:]


def test_cm_rotation_pinned_anchor_box():
    """Rotated cm: the box is the pinned axis-aligned anchor — mapped
    baseline extent (degenerate for 90°) with height |image of (0,1)|."""
    spans = _parity(
        _pdf("q 0 1 -1 0 300 100 cm BT /F1 12 Tf 15 0 Td (rotated line) Tj ET Q")
    )
    assert [s[2] for s in spans] == ["rotated line"]
    box = spans[0][4]
    # baseline start (15,0) -> (300, 115); end maps to the same x -> X0 == X1
    assert box[0] == box[2] == 392  # round(300*800/612)
    assert box[3] - box[1] == 15  # fontsize * hypot(c=-1, d=0) = 12 -> 15/1000-ish


def test_cm_traps_inert():
    """Unbalanced Q is inert; a 4-operand cm is inert; cm inside BT flushes
    the open line then applies (hostile-stream degrade, pinned)."""
    spans = _parity(
        _pdf(
            "Q q 1 0 0 500 cm BT /F1 12 Tf 72 500 Td (trap one) Tj "
            "1 0 0 1 0 -30 cm (trap two) Tj ET Q Q"
        )
    )
    assert [s[2] for s in spans] == ["trap one", "trap two"]
    # the malformed cm left the CTM identity: trap one at (72, 500) exactly
    assert (spans[0][4][0], spans[0][4][1]) == (94, 354)
    # the in-BT cm applied: trap two 30 user-units below trap one
    assert spans[1][4][1] > spans[0][4][1]


def test_gstack_cap_absorbs_excess_q():
    """Pushes past the 64-deep cap are counted and their matching Q
    absorbed without restoring, so balance survives hostile streams; cm
    still composes past the cap."""
    ops = (
        " ".join(["q 1 0 0 1 1 1 cm"] * 70)
        + " BT /F1 12 Tf 0 400 Td (deep) Tj ET "
        + " ".join(["Q"] * 70)
        + " BT /F1 12 Tf 72 300 Td (after) Tj ET"
    )
    spans = _parity(_pdf(ops))
    assert [s[2] for s in spans] == ["deep", "after"]
    # all 70 cms composed: x = 70 -> round(70*800/612) = 92
    assert spans[0][4][0] == 92
    # after 70 Qs (6 absorbed, 64 restored) the CTM is identity again
    assert (spans[1][4][0], spans[1][4][1]) == (94, 606)


# ---------------------------------------------------------------------------
# v21: /Kids page-tree ordering (SPEC §3b Page tree; ISO 32000 §7.7.3)
# ---------------------------------------------------------------------------


def _kids_pdf(kids: str, page_objs: str, stream_objs: str,
              root: str = "1 0 R") -> str:
    return (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /MediaBox [0 0 612 792]"
        " >>\nendobj\n"
        f"{page_objs}{stream_objs}"
        f"trailer\n<< /Root {root} >>\n%%EOF\n"
    )


def _pg(num: int, cref: int, parent: int = 2, extra: str = "") -> str:
    return (
        f"{num} 0 obj\n<< /Type /Page /Parent {parent} 0 R"
        f" /Contents {cref} 0 R{extra} >>\nendobj\n"
    )


def _st(num: int, label: str, y: int = 700) -> str:
    return _stream(num, f"BT /F1 12 Tf 72 {y} Td ({label}) Tj ET")


def test_tree_order_overrides_byte_order():
    """Content streams emitted in reversed byte order read in /Kids order."""
    doc = _kids_pdf(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "second page line") + _st(5, "first page line"),
    )
    assert _texts(doc) == ["first page line", "second page line"]


def test_nested_pages_node_and_two_hop_inheritance():
    """A nested /Type /Pages node recurses in place; its wrapped page
    inherits the MediaBox through TWO /Parent hops."""
    sub = "7 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [4 0 R] >>\nendobj\n"
    doc = _kids_pdf(
        "3 0 R 7 0 R",
        _pg(3, 5) + _pg(4, 6, parent=7) + sub,
        _st(6, "nested page line") + _st(5, "top page line"),
    )
    spans = _parity(doc)
    assert [s[2] for s in spans] == ["top page line", "nested page line"]
    # same user-space origin + same (inherited) MediaBox → identical
    # X0/Y0/Y1 (X1 differs with label length)
    assert [spans[0][4][i] for i in (0, 1, 3)] == [
        spans[1][4][i] for i in (0, 1, 3)
    ]


def test_tree_missing_kid_and_duplicate_listing():
    """A kid ref to a missing object is skipped; a page listed twice is
    collected once (visited guard)."""
    doc = _kids_pdf(
        "99 0 R 4 0 R 3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(5, "listed second") + _st(6, "listed first"),
    )
    assert _texts(doc) == ["listed first", "listed second"]


def test_tree_cycle_guard():
    """A nested node cycling back to the root terminates; pages extract
    once each in tree order."""
    sub = (
        "7 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 2 0 R] >>\n"
        "endobj\n"
    )
    doc = _kids_pdf(
        "7 0 R 3 0 R",
        _pg(3, 5) + _pg(4, 6, parent=7) + sub,
        _st(5, "outer page") + _st(6, "inner page"),
    )
    assert _texts(doc) == ["inner page", "outer page"]


def test_dead_root_keeps_byte_order():
    """A trailer /Root naming a missing object yields no tree: byte order
    stands (the pre-v21 behavior)."""
    doc = _kids_pdf(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "byte first") + _st(5, "byte second"),
        root="77 0 R",
    )
    assert _texts(doc) == ["byte first", "byte second"]


def test_orphan_page_appends_after_tree_pages():
    """A /Type /Page object no /Kids array lists emits AFTER the tree
    pages even when its content stream comes first in byte order."""
    doc = _kids_pdf(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6) + _pg(8, 9),
        _st(9, "orphan note") + _st(5, "tree one") + _st(6, "tree two"),
    )
    assert _texts(doc) == ["tree one", "tree two", "orphan note"]


def test_shared_content_object_last_tree_listing_wins():
    """Two tree pages sharing one content object produce ONE unit, placed
    at the LAST page's tree position (mirror of the shared-part rule)."""
    doc = _kids_pdf(
        "3 0 R 4 0 R 8 0 R",
        _pg(3, 5) + _pg(4, 6) + _pg(8, 5),
        _st(5, "shared content") + _st(6, "middle page"),
    )
    assert _texts(doc) == ["middle page", "shared content"]


def test_update_heals_shuffle_with_new_trailer_root():
    """An incremental update appends a new trailer whose /Root wins
    (last-valid rule) — tree ordering still resolves through it."""
    base = _kids_pdf(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "page two text") + _st(5, "page one text"),
    )
    doc = base + "trailer\n<< /Root 1 0 R /Prev 42 >>\n%%EOF\n"
    assert _texts(doc) == ["page one text", "page two text"]


# ---------------------------------------------------------------------------
# v22: PDF-1.5 cross-reference-stream trailers (SPEC §3b; ISO 32000 §7.5.8)
# ---------------------------------------------------------------------------


def _xrefstream_obj(num: int, root: str, extra: str = "") -> str:

    rows = bytes([1, 0, 0x12, 0] * 6)  # W [1 2 1] junk rows, no 'BT' bytes
    xb = base64.a85encode(zlib.compress(rows, 6)).decode("latin-1") + "~>"
    return (
        f"{num} 0 obj\n<< /Type /XRef /Size 8 /W [1 2 1] /Root {root}{extra}"
        " /Filter [/ASCII85Decode /FlateDecode]"
        f" /Length {len(xb)} >>\nstream\n{xb}\nendstream\nendobj\n"
        "startxref\n614\n%%EOF\n"
    )


def _pdf15(kids: str, page_objs: str, stream_objs: str, tail: str) -> str:
    return (
        "%PDF-1.5\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /MediaBox [0 0 612 792]"
        " >>\nendobj\n"
        f"{page_objs}{stream_objs}{tail}"
    )


def _xref_stream_doc() -> str:
    """Two shuffled pages behind a PDF-1.5 xref-stream tail."""
    return _pdf15(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "page two body") + _st(5, "page one body"),
        _xrefstream_obj(7, "1 0 R"),
    )


def test_xref_stream_trailer_resolves_tree():
    """A PDF-1.5 tail (no `trailer` keyword; /Root in the /Type /XRef
    stream dict) still resolves the catalog — shuffled pages heal to tree
    order, and the binary xref body is skipped without counting dropped."""
    doc = _xref_stream_doc()
    assert "trailer" not in doc
    assert _texts(doc) == ["page one body", "page two body"]
    assert _dropped(doc) == 0  # the xref stream decodes fine and is silently inert


def test_xref_stream_root_last_valid_wins():
    """An update section's xref-stream /Root supersedes the base trailer's
    (payload-wide last-valid rule) — and a LATER dead /Root kills the tree."""
    base = _pdf15(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "beta page") + _st(5, "alpha page"),
        "trailer\n<< /Root 77 0 R >>\n%%EOF\n",  # dead base root
    )
    healed = base + _xrefstream_obj(7, "1 0 R", extra=" /Prev 42")
    assert _texts(healed) == ["alpha page", "beta page"]
    # reverse: valid base, later dead xref-stream root → byte order
    base2 = _pdf15(
        "3 0 R 4 0 R",
        _pg(3, 5) + _pg(4, 6),
        _st(6, "beta page") + _st(5, "alpha page"),
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n",
    )
    dead = base2 + _xrefstream_obj(7, "88 0 R", extra=" /Prev 42")
    assert _texts(dead) == ["beta page", "alpha page"]


# ---------------------------------------------------------------------------
# v23: literal-string encoded shows (SPEC §3b Tokens; ISO 32000 §7.3.4.2)
# ---------------------------------------------------------------------------


def _cid_doc(show_op: str) -> str:
    """One page, a 2-byte CID font (codes 0100/0101/0102 → 'C' 'a' 't'),
    and the given show op under /F9."""
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "3 beginbfchar\n<0100> <0043>\n<0101> <0061>\n<0102> <0074>\n"
        "endbfchar\nendcmap\nend"
    )
    return _pdf(f"BT /F9 12 Tf 72 700 Td {show_op} ET",
                _obj(5, "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>")
                + _stream(6, cmap), _fonts("/F9 5 0 R"), count=False)


def test_literal_cid_show_equals_hex_twin():
    """2-byte CID codes carried by octal escapes in a literal string
    decode identically to the same codes in a hex string."""
    lit = _parity(_cid_doc(r"(\001\000\001\001\001\002) Tj"))
    hx = _parity(_cid_doc("<010001010102> Tj"))
    assert [s[2] for s in lit] == ["Cat"]
    assert lit == hx


def test_literal_octal_maximal_munch_three_digits():
    """A three-digit octal escape followed by a digit char does not
    over-munch: \\0011 is code byte 0x01 then the char '1'."""
    spans = _parity(_cid_doc(r"(\001\0001\001\002) Tj"))
    # bytes: 01 00 31 01 02 → (0100)→'C', '1' (identity, no 2-byte match
    # since 0x31 pairs fail), then (0102)→'t'
    assert [s[2] for s in spans] == ["C1t"]


def test_literal_high_half_octal_through_base_encoding():
    """Octal escapes ≥ \\200 decode through a WinAnsi base encoding."""
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /MediaBox [0 0 612 792]"
        " >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        " /Resources << /Font << /F9 5 0 R >> >> >>\nendobj\n"
        "4 0 obj\n<< /Length 57 >>\nstream\n"
        r"BT /F9 12 Tf 72 700 Td (caf\351 \223quote\224 ok) Tj ET"
        "\nendstream\nendobj\n"
        "5 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding"
        " >>\nendobj\n"
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert _texts(doc) == ["café “quote” ok"]


# ---------------------------------------------------------------------------
# v24: marked content (SPEC §3b Marked content; ISO 32000 §14.6/§14.8.2.2)
# ---------------------------------------------------------------------------


def test_artifact_suppressed_by_default():
    """A mid-page /Artifact level (BDC-dict and BMC forms) suppresses its
    shows — counted dropped — and keep_artifact_text=True renders them."""
    ops = (
        "BT /F1 12 Tf 72 700 Td (body line) Tj\n"
        "0 -20 Td /Artifact << /Type /Layout >> BDC (DRAFT watermark) Tj EMC\n"
        "0 -20 Td /Artifact BMC [(deco) -300 (ration)] TJ EMC\n"
        "0 -20 Td (body two) Tj ET"
    )
    doc = _pdf(ops)
    assert _texts(doc) == ["body line", "body two"]
    assert _dropped(doc) == 2  # one Tj + one TJ suppressed
    keep = ExtractConfig(keep_artifact_text=True)
    assert _texts(doc, keep) == ["body line", "DRAFT watermark", "deco ration", "body two"]
    assert _dropped(doc, keep) == 0


def test_artifact_positioning_side_effects_survive():
    """Suppressed shows keep their positioning side effects: a ' inside an
    artifact still flushes and advances y by the leading."""
    ops = (
        "BT /F1 12 Tf 20 TL 72 700 Td (top) Tj\n"
        "/Artifact BMC (gone) ' (also gone) ' EMC\n"
        "(bottom) ' ET"
    )
    plain = (
        "BT /F1 12 Tf 20 TL 72 700 Td (top) Tj\n"
        "(x) ' (y) ' (bottom) ' ET"
    )
    doc = _pdf(ops)
    spans = _parity(doc)
    ref = _parity(_pdf(plain))
    assert [s[2] for s in spans] == ["top", "bottom"]
    assert _dropped(doc) == 2
    # "bottom" sits exactly where the plain twin's "bottom" sits
    assert spans[-1][4] == ref[-1][4]


def test_actualtext_replaces_enclosed_shows():
    """The first show inside an /ActualText level emits the replacement;
    the rest of the level's shows emit nothing (hyphenation-fix shape)."""
    ops = (
        "BT /F1 12 Tf 72 700 Td "
        "/Span << /ActualText (extraction) >> BDC (extrac-) Tj (tion) Tj EMC"
        " ( done) Tj ET"
    )
    doc = _pdf(ops)
    assert _texts(doc) == ["extraction done"]
    assert _dropped(doc) == 0


def test_actualtext_utf16_bom_forms():
    """Hex and octal-literal UTF-16BE BOM forms decode (surrogate pairs
    combined); odd byte count and a lone surrogate degrade to raw."""
    # hex form: "héllo" with é = U+00E9; plus a surrogate pair U+1D460
    hexat = "<FEFF006800E9006C006C006FD835DC60>"
    ops = (
        "BT /F1 12 Tf 72 700 Td "
        f"/Span << /ActualText {hexat} >> BDC (x) Tj EMC ET"
    )
    assert _texts(_pdf(ops)) == ["héllo\U0001d460"]
    # literal form with octal escapes: BOM + "High" (≥ min_chars)
    lit = r"(\376\377\000H\000i\000g\000h)"
    ops2 = (
        "BT /F1 12 Tf 72 700 Td "
        f"/Span << /ActualText {lit} >> BDC (x) Tj EMC ET"
    )
    assert _texts(_pdf(ops2)) == ["High"]
    # odd byte count → raw string stands (BOM chars included)
    odd = r"(\376\377\000A\000)"
    ops3 = (
        "BT /F1 12 Tf 72 700 Td "
        f"/Span << /ActualText {odd} >> BDC (x) Tj EMC ET"
    )
    assert _texts(_pdf(ops3))[0] == "\xfe\xff\x00A\x00"
    # lone high surrogate → raw
    lone = "<FEFFD8000041>"
    ops4 = (
        "BT /F1 12 Tf 72 700 Td "
        f"/Span << /ActualText {lone} >> BDC (x) Tj EMC ET"
    )
    assert _texts(_pdf(ops4))[0] == "\xfe\xff\xd8\x00\x00A"


def test_actualtext_nested_outermost_wins():
    """A nested /ActualText while one is active is balance-tracked only."""
    ops = (
        "BT /F1 12 Tf 72 700 Td "
        "/Span << /ActualText (outer) >> BDC "
        "/Span << /ActualText (inner) >> BDC (a) Tj EMC (b) Tj EMC "
        "( tail) Tj ET"
    )
    assert _texts(_pdf(ops)) == ["outer tail"]


def test_artifact_beats_actualtext_and_emc_releases():
    """Shows inside an artifact nested in an /ActualText level are
    suppressed and do NOT consume the replacement; a later show does."""
    ops = (
        "BT /F1 12 Tf 72 700 Td "
        "/Span << /ActualText (real) >> BDC "
        "/Artifact BMC (junk) Tj EMC (drawn) Tj EMC ET"
    )
    doc = _pdf(ops)
    assert _texts(doc) == ["real"]
    assert _dropped(doc) == 1  # the artifact-suppressed Tj


def test_marked_content_traps():
    """Unbalanced EMC inert; zero-show level contributes nothing;
    number-first BDC is untagged; a ref inside the inline property dict
    clears the operand stack → untagged level (pinned degrade)."""
    ops = (
        "EMC BT /F1 12 Tf 72 700 Td "
        "/Span << /ActualText (never) >> BDC EMC "
        "(one) Tj "
        "42 /Artifact BDC ( two) Tj EMC "
        "/Artifact << /Md 9 0 R >> BDC ( three) Tj EMC "
        "EMC (four?) Tj ET"
    )
    # "never" is released at its EMC before any show; the number-first and
    # ref-cleared BDC levels are untagged so their text renders; the
    # trailing EMC pops nothing extra (stack already empty) → "four?" renders
    doc = _pdf(ops)
    assert _texts(doc) == ["one two threefour?"]
    assert _dropped(doc) == 0


def test_artifact_named_props_suppresses():
    """/Artifact /P0 BDC (named properties): the tag rule still applies."""
    ops = (
        "BT /F1 12 Tf 72 700 Td (kept) Tj "
        "/Artifact /P0 BDC ( pagination) Tj EMC ET"
    )
    doc = _pdf(ops)
    assert _texts(doc) == ["kept"]
    assert _dropped(doc) == 1


def test_marked_content_not_graphics_state():
    """q/Q do not save or restore the marked-content stack: a level opened
    inside q..Q stays open after Q."""
    ops = (
        "BT /F1 12 Tf 72 700 Td (before) Tj ET "
        "q /Artifact BMC Q "
        "BT /F1 12 Tf 72 650 Td (still artifact) Tj ET "
        "EMC "
        "BT /F1 12 Tf 72 600 Td (after) Tj ET"
    )
    doc = _pdf(ops)
    assert _texts(doc) == ["before", "after"]
    assert _dropped(doc) == 1


def test_marked_content_fresh_per_form():
    """A form body gets a fresh marked-content stack: an open /Artifact in
    the invoker does not suppress the form's shows — and the form's own
    unclosed level does not leak back."""
    form = "5 0 obj\n<< /Subtype /Form /Length 44 >>\nstream\nBT /F1 12 Tf 0 0 Td (form text) Tj ET /Artifact BMC\nendstream\nendobj\n"
    doc = _pdf(
        "q 1 0 0 1 72 500 cm /Artifact BMC /Fx Do EMC Q\n"
        "BT /F1 12 Tf 72 400 Td (page text) Tj ET",
        form, " /Resources << /XObject << /Fx 5 0 R >> >>", count=False, length=False,
    )
    assert _texts(doc) == ["form text", "page text"]
    assert _dropped(doc) == 0


# ---------------------------------------------------------------------------
# v25: advance widths (SPEC §3b Advance widths; ISO 32000 §9.7.4)
# ---------------------------------------------------------------------------


def _pdfw(ops: str, fontobj: str = "<< /Type /Font /Subtype /Type1 >>",
          extra: str = "") -> str:
    return _pdf(ops, _obj(5, fontobj) + extra, _fonts("/F5 5 0 R"), count=False, length=False)


def test_widths_per_code_advance():
    """A=1000, B=500 glyph units at fs 10: 'ABA' advances 25 user units —
    the hand-computed canonical box, not the 0.5-average estimate."""
    doc = _pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /FirstChar 65 /Widths [1000 500] >>",
    )
    spans = _parity(doc)
    # X0 = round(72·800/612) = 94; X1 = round((72+25)·800/612) = 127
    assert spans[0][4] == [94, 104, 127, 116]


def test_widths_missing_firstchar_or_junk_no_table():
    """Missing /FirstChar or a non-number array token → the average rule."""
    avg = _pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
    )
    ref = _parity(avg)
    for fobj in (
        "<< /Type /Font /Widths [1000 500] >>",
        "<< /Type /Font /FirstChar 65 /Widths [1000 /x 500] >>",
        "<< /Type /Font /FirstChar 65 /Widths [1000 500 >>",  # unterminated
        "<< /Type /Font /FirstChar -3 /Widths [1000 500] >>",  # bad int
    ):
        doc = _pdfw("BT /F5 10 Tf 72 700 Td (ABA) Tj ET", fobj)
        assert _parity(doc) == ref, fobj


def test_widths_missingwidth_fallback():
    """Codes outside the covered range take /FontDescriptor /MissingWidth
    (default 0 — a fully uncovered line is a zero-width box)."""
    doc = _pdfw(
        "BT /F5 10 Tf 72 700 Td (AZA) Tj ET",
        "<< /Type /Font /FirstChar 65 /Widths [1000] /FontDescriptor 6 0 R >>",
        "6 0 obj\n<< /Type /FontDescriptor /MissingWidth 200 >>\nendobj\n",
    )
    spans = _parity(doc)
    # adv = (1.0 + 0.2 + 1.0)·10 = 22 → X1 = round(94·800/612) = 123
    assert spans[0][4][2] == 123
    # no FontDescriptor → MissingWidth 0: 'ZZZ' has zero width
    zdoc = _pdfw(
        "BT /F5 10 Tf 72 700 Td (ZZZ) Tj ET",
        "<< /Type /Font /FirstChar 65 /Widths [1000] >>",
    )
    zspans = _parity(zdoc)
    assert zspans[0][4][0] == zspans[0][4][2] == 94


def test_widths_ref_array_and_spacing_interplay():
    """/Widths as a ref'd array object; Tc/Tw/Tz apply per-glyph/space on
    top of the per-code units."""
    doc = _pdfw(
        "BT /F5 10 Tf 2 Tc 4 Tw 200 Tz 72 700 Td (A A) Tj ET",
        "<< /Type /Font /FirstChar 32 /Widths 6 0 R >>",
        "6 0 obj\n[ 300 ]\nendobj\n",
    )
    spans = _parity(doc)
    # codes: A(65)→miss 0, space(32)→0.3; units = 0.3; glyphs 3, spaces 1
    # adv = (0.3·10 + 2·3 + 4·1)·2 = 26 → X1 = round(98·800/612) = 128
    assert spans[0][4][2] == 128


def test_widths_on_cmap_font_keyed_by_code():
    """A shift-CMap font looks widths up by the SHIFTED code, not the
    decoded char."""
    cmap = (
        "begincmap\n1 beginbfrange\n<42> <43> <0041>\nendbfrange\nendcmap"
    )
    doc = _pdf(
        "BT /F9 10 Tf 72 700 Td <424342> Tj ET",
        _obj(5, "<< /Type /Font /ToUnicode 6 0 R /FirstChar 66 /Widths [1000 500] >>")
        + _stream(6, cmap),
        _fonts("/F9 5 0 R"), count=False, length=False,
    )
    spans = _parity(doc)
    # decodes to ABA; widths keyed by codes 66,67,66 → 1.0+0.5+1.0 = 25
    assert spans[0][2] == "ABA"
    assert spans[0][4] == [94, 104, 127, 116]


def test_widths_kern_space_and_actualtext_identity_accounting():
    """TJ kern-spaces and /ActualText replacements contribute the
    identity 0.5-unit accounting even under a widths font."""
    doc = _pdfw(
        "BT /F5 10 Tf 72 700 Td [(A) -300 (A)] TJ ET",
        "<< /Type /Font /FirstChar 65 /Widths [1000] >>",
    )
    spans = _parity(doc)
    # A + kern-space(0.5) + A = 2.5 units → adv 25 → X1 127
    assert spans[0][2] == "A A" and spans[0][4][2] == 127
    at = _pdfw(
        "BT /F5 10 Tf 72 700 Td"
        " /Span << /ActualText (WXYZ) >> BDC (A) Tj EMC ET",
        "<< /Type /Font /FirstChar 65 /Widths [1000] >>",
    )
    atspans = _parity(at)
    # replacement = 4 chars × 0.5 = 2.0 units → adv 20 → X1 round(92·sx)=120
    assert atspans[0][2] == "WXYZ" and atspans[0][4][2] == 120


def test_widths_saved_by_q_with_font():
    """q saves the active width table with the font; Q restores it."""
    doc = _pdf(
        "BT /F5 10 Tf 72 700 Td q /F6 10 Tf Q (AAA) Tj ET",
        _obj(5, "<< /Type /Font /FirstChar 65 /Widths [1000] >>")
        + _obj(6, "<< /Type /Font /FirstChar 65 /Widths [200] >>"),
        _fonts("/F5 5 0 R /F6 6 0 R"), count=False, length=False,
    )
    spans = _parity(doc)
    # Q restored /F5's table: 3·1.0·10 = 30 → X1 = round(102·800/612) = 133
    assert spans[0][4][2] == 133


# ---------------------------------------------------------------------------
# v27: annotations (SPEC §3b Annotations; ISO 32000 §12.5)
# ---------------------------------------------------------------------------


def _pdfa(annots_val: str, extra_objs: str) -> str:
    return _pdf("BT /F1 12 Tf 72 700 Td (page body text) Tj ET", extra_objs,
                f" /Annots {annots_val}", count=False, length=False)


def test_annots_freetext_widget_link_and_hidden():
    """FreeText /Contents and Widget /V extract after the content boxes;
    Link is ignored; /F Hidden counts one drop; the Print flag does not
    hide."""
    doc = _pdfa(
        "[5 0 R 6 0 R 7 0 R 8 0 R 9 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /FreeText /Rect [100 300 250 320]"
        " /Contents (a sticky note comment) >>\nendobj\n"
        "6 0 obj\n<< /Type /Annot /Subtype /Widget /FT /Tx"
        " /Rect [100 260 250 280] /V (typed field value) >>\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /FreeText /Rect [100 220 250 240]"
        " /F 2 /Contents (hidden note) >>\nendobj\n"
        "8 0 obj\n<< /Type /Annot /Subtype /Link /Rect [100 180 250 200]"
        " /Contents (link text ignored) >>\nendobj\n"
        "9 0 obj\n<< /Type /Annot /Subtype /FreeText /Rect [100 140 250 160]"
        " /F 4 /Contents (printed note text) >>\nendobj\n",
    )
    spans = _parity(doc)
    texts = [s[2] for s in spans]
    assert "a sticky note comment" in texts
    assert "typed field value" in texts
    assert "printed note text" in texts
    assert not any("hidden" in t or "link text" in t for t in texts)
    assert _dropped(doc) == 1  # exactly the hidden note
    # rect [100 300 250 320] → X0 = round(100·800/612) = 131,
    # Y0 = round((792-320)·1000/792) = 596
    note = next(s for s in spans if s[2] == "a sticky note comment")
    assert note[4] == [131, 596, 327, 621]


def test_annots_ref_array_and_utf16_contents():
    """/Annots as a ref to an array object; a BOM hex /Contents decodes."""
    at = "<FEFF" + "".join(f"{ord(c):04X}" for c in "café annotation") + ">"
    doc = _pdfa(
        "10 0 R",
        "10 0 obj\n[ 5 0 R ]\nendobj\n"
        "5 0 obj\n<< /Type /Annot /Subtype /FreeText /Rect [100 300 250 320]"
        f" /Contents {at} >>\nendobj\n",
    )
    assert _texts(doc) == ["page body text", "café annotation"]


def test_annots_traps_skip_silently():
    """Missing/malformed /Rect, missing /Contents, dangling refs, and a
    non-ref list element all skip without a drop count."""
    doc = _pdfa(
        "[5 0 R 98 0 R 6 0 R (junk) 7 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /FreeText"
        " /Contents (no rect here) >>\nendobj\n"
        "6 0 obj\n<< /Type /Annot /Subtype /FreeText /Rect [10 10 zz 30]"
        " /Contents (bad rect) >>\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /FreeText"
        " /Rect [100 300 250 320] >>\nendobj\n",
    )
    spans = _parity(doc)
    # the non-ref element ends the list BEFORE 7 0 R; nothing extracts
    assert [s[2] for s in spans] == ["page body text"]
    assert _dropped(doc) == 0


def test_annots_rotated_page_geometry():
    """Annotation rects ride the page's rotation corner map."""
    base = _pdf(
        "BT /F1 12 Tf 72 700 Td (rotated body) Tj ET",
        _obj(5, "<< /Type /Annot /Subtype /FreeText /Rect [100 300 250 320]"
                " /Contents (rotated annotation) >>"),
        " /Annots [5 0 R]", pages=" /Rotate 90", count=False, length=False,
    )
    spans = _parity(base)
    note = next(s for s in spans if s[2] == "rotated annotation")
    # r=90 viewer: W=792, H=612; X = v·800/792, Y = u·1000/612
    # X0 = round(300·800/792) = 303; Y0 = round(100·1000/612) = 163
    assert note[4] == [303, 163, 323, 408]


# ---------------------------------------------------------------------------
# v28: markup-annotation /Contents + /Popup exclusion (ISO 32000 §12.5.6)
# ---------------------------------------------------------------------------


def test_annot_subtype_sets_match():
    """Kernel and oracle carry independent /Contents-subtype literals —
    hold them content-equal (the v26 skip-set gate pattern)."""
    from paddleocr_spark.functions.realpdf import _ANNOT_TEXT_SUBTYPES
    from paddleocr_spark.oracle import _RPDF_ANNOT_TEXT_SUBTYPES

    assert _ANNOT_TEXT_SUBTYPES == _RPDF_ANNOT_TEXT_SUBTYPES
    assert "Popup" not in _ANNOT_TEXT_SUBTYPES
    assert "Link" not in _ANNOT_TEXT_SUBTYPES
    assert "Widget" not in _ANNOT_TEXT_SUBTYPES  # separate /V dispatch


def test_annots_markup_set_extracts():
    """Text sticky notes and Highlight/StrikeOut/Stamp review comments
    extract their /Contents; inert /QuadPoints //Open //Name keys are
    noise; a Squiggly with /F 2 hides and counts."""
    doc = _pdfa(
        "[5 0 R 6 0 R 7 0 R 8 0 R 9 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /Text /Rect [100 300 250 320]"
        " /Open true /Name /Comment /Contents (reviewer sticky) >>\nendobj\n"
        "6 0 obj\n<< /Type /Annot /Subtype /Highlight"
        " /Rect [100 260 250 280]"
        " /QuadPoints [100 280 250 280 100 260 250 260]"
        " /Contents (highlight remark) >>\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /StrikeOut /Rect [100 220 250 240]"
        " /Contents (strike remark) >>\nendobj\n"
        "8 0 obj\n<< /Type /Annot /Subtype /Stamp /Name /Draft"
        " /Rect [100 180 250 200] /Contents (stamp remark) >>\nendobj\n"
        "9 0 obj\n<< /Type /Annot /Subtype /Squiggly /Rect [100 140 250 160]"
        " /F 2 /Contents (hidden squiggle) >>\nendobj\n",
    )
    spans = _parity(doc)
    texts = [s[2] for s in spans]
    assert texts == [
        "page body text", "reviewer sticky", "highlight remark",
        "strike remark", "stamp remark",
    ]
    assert _dropped(doc) == 1  # the hidden squiggle


def test_annots_popup_never_extracts():
    """A /Popup's /Contents duplicates its parent's (§12.5.6.14): the
    parent extracts once, the popup — listed in /Annots — never, whether
    its text matches the parent's or not."""
    doc = _pdfa(
        "[5 0 R 6 0 R 7 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /Text /Popup 6 0 R"
        " /Rect [100 300 250 320] /Contents (parent note) >>\nendobj\n"
        "6 0 obj\n<< /Type /Annot /Subtype /Popup /Parent 5 0 R"
        " /Rect [400 400 520 460] /Contents (parent note) >>\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /Popup /Parent 5 0 R"
        " /Rect [400 300 520 360] /Contents (orphan popup text) >>\nendobj\n",
    )
    spans = _parity(doc)
    texts = [s[2] for s in spans]
    assert texts == ["page body text", "parent note"]
    assert _dropped(doc) == 0  # ignored subtypes never count


def test_annots_widget_contents_is_not_text():
    """A Widget with /Contents but no /V yields nothing — the /V dispatch
    never falls back to /Contents."""
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /Widget /Rect [100 300 250 320]"
        " /Contents (tooltip text not a value) >>\nendobj\n",
    )
    assert _texts(doc) == ["page body text"]


# ---------------------------------------------------------------------------
# v31: Identity CID encodings (SPEC §3b Identity CID encodings)
# ---------------------------------------------------------------------------


def _pdf_id2(ops: str, enc: str = "Identity-H", fextra: str = "") -> str:
    font = f"<< /Type /Font /Subtype /Type0 /BaseFont /NotoSans /Encoding /{enc}{fextra} >>"
    return _pdf(ops, _obj(5, font), _fonts("/F9 5 0 R"))


def _hex16(t: str) -> str:
    return "".join(f"{ord(c):04X}" for c in t)


def test_v31_identity_h_decodes_utf16be_codes():
    """2-byte CIDs interpret identity-to-Unicode: Greek, CJK and
    typographic glyphs round-trip; Identity-V decodes the same way."""
    for enc in ("Identity-H", "Identity-V"):
        assert _texts(
            _pdf_id2(
                f"BT /F9 12 Tf 72 700 Td <{_hex16('data αβγ 你好 №7')}> Tj ET",
                enc,
            )
        ) == ["data αβγ 你好 №7"], enc


def test_v31_surrogate_code_and_odd_tail():
    """A surrogate-range code maps to U+FFFD (lone surrogates are not
    Unicode scalars); a lone trailing byte passes through identity."""
    assert _texts(
        _pdf_id2("BT /F9 12 Tf 72 700 Td <D801 0041 0042 43> Tj ET")
    ) == ["�ABC"]


def test_v31_tounicode_wins_over_identity():
    """§9.10.2 preference: a parsable ToUnicode beats the Identity
    encoding name — the same precedence as the Differences rule."""
    cm = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 beginbfrange\n<26> <7E> <0023>\nendbfrange\nendcmap\nend"
    )
    doc = _pdf(
        "BT /F9 12 Tf 72 700 Td (khoor) Tj ET",
        _obj(5, "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R /Encoding /Identity-H >>")
        + _stream(6, cm),
        _fonts("/F9 5 0 R"),
    )
    # the bfrange shifts codes back by 3: 'khoor' -> 'hello'
    assert _texts(doc) == ["hello"]


def test_v31_unknown_bare_name_stays_identity():
    """Only the two Identity names trigger 2-byte consumption — any other
    unknown bare /Encoding name keeps 1-byte identity (the pinned v18
    rule, unchanged)."""
    assert _texts(
        _pdf_id2(
            "BT /F9 12 Tf 72 700 Td (plain bytes kept) Tj ET",
            "CustomEncoding",
        )
    ) == ["plain bytes kept"]


def test_v31_widths_interplay():
    """An Identity font WITH a /FirstChar+/Widths table accounts per
    2-byte code: 0x00-high-byte codes hit the table, others take the
    /MissingWidth fallback — parity pins the advance math."""
    ops = (
        f"BT /F9 12 Tf 72 700 Td <{_hex16('AB 你')}> Tj"
        f" <{_hex16('tail')}> Tj ET"
    )
    assert _texts(
        _pdf_id2(
            ops,
            "Identity-H",
            " /FirstChar 32 /Widths [ 300 400 500 600 700 800 900 250"
            " 350 450 550 650 750 850 950 275 375 475 575 675 775 875"
            " 975 325 425 525 625 725 825 925 280 380 480 580 680 780"
            " 880 ] /FontDescriptor 7 0 R",
        ).replace(
            "trailer",
            "7 0 obj\n<< /Type /FontDescriptor /MissingWidth 444 >>\n"
            "endobj\ntrailer",
        )
    ) == ["AB 你tail"]


def test_v31_literal_string_id2_codes():
    """Identity 2-byte codes can arrive through a literal string with
    octal escapes (the v23 encoded-show form)."""
    from paddleocr_spark.corpus import _lit_escape

    spans = _parity(
        _pdf_id2(
            "BT /F9 12 Tf 72 700 Td"
            f" ({_lit_escape(_hex16('esc αβ ok'))}) Tj ET"
        )
    )
    assert [s[2] for s in spans] == ["esc αβ ok"]


# ---------------------------------------------------------------------------
# v33: descendant CIDFont /W + /DW width arrays (SPEC §3b CID width arrays;
# ISO 32000 §9.7.4.3)
# ---------------------------------------------------------------------------


def _pdf_cidw(desc_body: str, fextra: str = "", ops: str = None, extra: str = ""):
    """Identity-H Type0 with /DescendantFonts [8 0 R]; the descendant body
    and any extra objects are caller-supplied."""
    ops = ops or f"BT /F9 10 Tf 72 700 Td <{_hex16('hello wide world')}> Tj ET"
    doc = _pdf_id2(ops, "Identity-H", f" /DescendantFonts [8 0 R]{fextra}")
    return doc.replace(
        "trailer", f"8 0 obj\n{desc_body}\nendobj\n{extra}trailer"
    )


def test_v33_bare_descendant_takes_dw_default_1000():
    """A descendant with neither /W nor /DW is a USABLE entry: ISO's
    DW default 1000 applies to every glyph — 16 codes at fontsize 10
    advance 160 (vs 80 under the no-table 0.5 rule)."""
    spans = _parity(
        _pdf_cidw("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /N >>")
    )
    assert [(s[2], s[4]) for s in spans] == [
        ("hello wide world", [94, 104, 303, 116])
    ]
    # the SAME document without a descendant keeps the 0.5 rule
    base = _parity(
        _pdf_id2(f"BT /F9 10 Tf 72 700 Td <{_hex16('hello wide world')}> Tj ET")
    )
    assert base[0][4] == [94, 104, 199, 116]


def test_v33_dw_only_descendant():
    """/DW alone covers all codes; /DW2 vertical-metrics noise occurring
    FIRST kills the /DW read (the global first-occurrence key rule)."""
    spans = _parity(_pdf_cidw("<< /Subtype /CIDFontType2 /DW 600 >>"))
    assert spans[0][4] == [94, 104, 220, 116]
    # /DW2 before /DW -> first /DW-prefixed occurrence is not token-exact
    spans2 = _parity(
        _pdf_cidw("<< /DW2 [880 -1000] /DW 600 >>")
    )
    assert spans2[0][4] == [94, 104, 303, 116]  # default 1000


def test_v33_w_run_form():
    """`c [w ...]` assigns consecutive codes; uncovered codes take /DW."""
    spans = _parity(_pdf_cidw("<< /DW 500 /W [108 [250 0 0 300] ] >>"))
    # 'l'x3 @.25 + 'o'x2 @.30 + 11 @.50 = 6.85 units -> adv 68.5
    assert spans[0][4] == [94, 104, 184, 116]


def test_v33_w_range_form():
    """`c1 c2 w` assigns the whole range; absent /DW defaults to 1000 for
    the uncovered space codes."""
    spans = _parity(_pdf_cidw("<< /W [60 80 444] /CIDToGIDMap /Identity >>"))
    # no shown code in 60..80: all 16 at dw 1.0 -> same as bare
    assert spans[0][4] == [94, 104, 303, 116]
    spans2 = _parity(_pdf_cidw("<< /W [97 122 444] >>"))
    # 14 a-z @ .444 + 2 spaces @ 1.0 = 8.216 -> adv 82.16
    assert spans2[0][4] == [94, 104, 202, 116]


def test_v33_w_and_descendants_by_ref():
    """/W as a ref'd array object; /DescendantFonts as a ref-to-array."""
    ops = f"BT /F9 10 Tf 72 700 Td <{_hex16('hello wide world')}> Tj ET"
    doc = _pdf_id2(ops, "Identity-H", " /DescendantFonts 7 0 R").replace(
        "trailer",
        "7 0 obj\n[ 8 0 R ]\nendobj\n"
        "8 0 obj\n<< /DW 700 /W 9 0 R >>\nendobj\n"
        "9 0 obj\n[ 97 122 444 ]\nendobj\ntrailer",
    )
    spans = _parity(doc)
    # 14 a-z @ .444 + 2 spaces @ .7 = 7.616 -> adv 76.16 -> X1 194
    assert spans[0][4] == [94, 104, 194, 116]


def test_v33_multibyte_codes_hit_the_map():
    """Unlike the v25 256-table, FULL 2-byte codes can hit /W — the
    entire point of the CID form."""
    # 0x4F60 = 20320 ('你'), 0x597D = 22909 ('好')
    ops = f"BT /F9 10 Tf 72 700 Td <{_hex16('你好 cjk width')}> Tj ET"
    spans = _parity(
        _pdf_cidw("<< /DW 250 /W [20320 [990] 22909 22909 990] >>", ops=ops)
    )
    # 2 cjk @ .99 + 10 @ .25 = 4.48 -> adv 44.8 -> X1 = round(116.8*800/612)=153
    assert [(s[2], s[4][2]) for s in spans] == [("你好 cjk width", 153)]


def test_v33_refusal_traps_fall_back_to_v25():
    """A malformed /W refuses the WHOLE CID entry; a /FirstChar+/Widths
    table riding the same font then applies (and absent one, the 0.5
    rule) — junk token, reversed range, dangling group, non-integral
    bound."""
    v25 = " /FirstChar 32 /Widths [" + " ".join(["600"] * 96) + "]"
    want = None
    for wkey in (
        "/W [32 /junk 300]",
        "/W [80 60 444]",
        "/W [32 [300] 48]",
        "/W [32.5 126 444]",
        "/W [32 126",  # unterminated
        "/W [32]",  # lone trailing code
    ):
        spans = _parity(
            _pdf_cidw(f"<< /DW 250 {wkey} >>", fextra=v25)
        )
        if want is None:
            want = spans
        assert spans == want, wkey
    # the fallback equals the descendant-free v25 document
    pure = _parity(
        _pdf_id2(
            f"BT /F9 10 Tf 72 700 Td <{_hex16('hello wide world')}> Tj ET",
            "Identity-H",
            v25,
        )
    )
    assert want == pure


def test_v33_usable_cid_entry_beats_widths_table():
    """Precedence: when BOTH parse, the descendant /W entry wins (the
    more specific CID machinery)."""
    v25 = " /FirstChar 32 /Widths [" + " ".join(["1000"] * 96) + "]"
    spans = _parity(_pdf_cidw("<< /DW 600 >>", fextra=v25))
    assert spans[0][4] == [94, 104, 220, 116]  # 600, not 1000


def test_v33_wmode_noise_is_w_absent_not_refusal():
    """A /WMode (or any longer /W-prefixed name) occurring FIRST means
    /W ABSENT — the entry stays usable with dw only."""
    spans = _parity(_pdf_cidw("<< /WMode 0 /DW 600 >>"))
    assert spans[0][4] == [94, 104, 220, 116]


def test_v33_covered_cap_refuses():
    """> 65536 covered codes (counting repeats) refuses the entry."""
    groups = " ".join("0 65535 500" for _ in range(2))
    spans = _parity(_pdf_cidw(f"<< /DW 250 /W [{groups}] >>"))
    # refused -> no v25 table on the font -> 0.5 rule
    assert spans[0][4] == [94, 104, 199, 116]
    # exactly at the cap: usable
    spans2 = _parity(_pdf_cidw("<< /DW 250 /W [0 65535 500] >>"))
    assert spans2[0][4] == [94, 104, 199, 116]  # all .5 == the 0.5 rule here


# ---------------------------------------------------------------------------
# v36: optional content — OCG/OCMD layers (SPEC §3b Optional content;
# ISO 32000 §8.11)
# ---------------------------------------------------------------------------


def _pdf_oc(props: str, ocp: str, extra: str = "", ops: str = None) -> str:
    ops = ops or (
        "BT /F1 12 Tf 72 700 Td (visible body text here) Tj ET\n"
        "/OC /P0 BDC BT /F1 10 Tf 72 650 Td (watermark layer text) Tj ET EMC\n"
        "BT /F1 12 Tf 72 600 Td (more visible text here) Tj ET"
    )
    doc = _pdf(ops, extra, f" /Resources << /Properties {props} >>", count=False)
    return doc.replace("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R",
                       f"%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R {ocp}", 1)


_OCG6 = "6 0 obj\n<< /Type /OCG /Name (Watermark) >>\nendobj\n"


def test_v36_off_layer_vanishes_and_counts():
    doc = _pdf_oc(
        "<< /P0 6 0 R >>",
        "/OCProperties << /OCGs [6 0 R] /D << /OFF [6 0 R] >> >>",
        _OCG6,
    )
    assert _texts(doc) == ["visible body text here", "more visible text here"]
    assert _dropped(doc) == 1  # the suppressed show counts


def test_v36_on_and_absent_configs_render():
    for ocp in (
        "/OCProperties << /OCGs [6 0 R] /D << /ON [6 0 R] >> >>",  # not OFF
        "",  # no /OCProperties at all (the gate fast path)
        "/OCProperties << /D << >> >>",  # /OFF absent
    ):
        assert _texts(_pdf_oc("<< /P0 6 0 R >>", ocp, _OCG6)) == [
            "visible body text here", "watermark layer text",
            "more visible text here",
        ], ocp


def test_v36_ocproperties_by_ref():
    assert _texts(_pdf_oc(
        "<< /P0 6 0 R >>", "/OCProperties 9 0 R",
        _OCG6 + "9 0 obj\n<< /OCGs [6 0 R] /D << /OFF [6 0 R] >> >>\nendobj\n",
    )) == [
        "visible body text here", "more visible text here"
    ]


def test_v36_ocmd_anyon_policy():
    # all members OFF -> hidden (array and single-ref forms)
    for ocgs in ("[6 0 R]", "6 0 R"):
        assert _texts(_pdf_oc(
            "<< /P0 7 0 R >>",
            "/OCProperties << /D << /OFF [6 0 R] >> >>",
            _OCG6 + f"7 0 obj\n<< /Type /OCMD /OCGs {ocgs} >>\nendobj\n",
        )) == [
            "visible body text here", "more visible text here"
        ], ocgs
    # one ON member -> visible; empty /OCGs -> visible
    for ocgs in ("[6 0 R 5 0 R]", "[]"):
        assert _texts(_pdf_oc(
            "<< /P0 7 0 R >>",
            "/OCProperties << /D << /OFF [6 0 R] >> >>",
            _OCG6 + "5 0 obj\n<< /Type /OCG >>\nendobj\n"
            + f"7 0 obj\n<< /Type /OCMD /OCGs {ocgs} >>\nendobj\n",
        )) == [
            "visible body text here", "watermark layer text",
            "more visible text here",
        ], ocgs


def test_v36_render_traps():
    """Unknown property name, inline dict, BMC /OC, dangling /OFF ref —
    all render."""
    spans = _parity(_pdf_oc(
        "<< /P9 6 0 R >>",  # content names /P0 — unknown
        "/OCProperties << /D << /OFF [6 0 R] >> >>", _OCG6,
    ))
    assert len(spans) == 3
    spans2 = _parity(_pdf_oc(
        "<< /P0 6 0 R >>",
        "/OCProperties << /D << /OFF [97 0 R] >> >>", _OCG6,
    ))  # /OFF lists a dangling ref only: 6 is ON
    assert len(spans2) == 3
    assert _texts(_pdf_oc(
        "<< /P0 6 0 R >>",
        "/OCProperties << /D << /OFF [6 0 R] >> >>", _OCG6,
        ops="/OC << /Type /OCG >> BDC BT /F1 12 Tf 72 700 Td"
        " (inline dict renders fine) Tj ET EMC\n"
        "/OC BMC BT /F1 12 Tf 72 650 Td (bmc has no property) Tj ET EMC",
    )) == [
        "inline dict renders fine", "bmc has no property"
    ]


def test_v36_nested_oc_and_artifact_interplay():
    """A visible layer nested inside a hidden one stays suppressed (the
    v24 stack rule); EMC restores the outer level."""
    assert _texts(_pdf_oc(
        "<< /P0 6 0 R /P1 8 0 R >>",
        "/OCProperties << /D << /OFF [6 0 R] >> >>",
        _OCG6 + "8 0 obj\n<< /Type /OCG >>\nendobj\n",
        ops="/OC /P1 BDC BT /F1 12 Tf 72 700 Td (visible layer text here) Tj ET\n"
        "/OC /P0 BDC BT /F1 10 Tf 72 650 Td (hidden inner layer) Tj ET EMC\n"
        "BT /F1 12 Tf 72 600 Td (outer continues fine) Tj ET EMC",
    )) == [
        "visible layer text here", "outer continues fine"
    ]


# ---------------------------------------------------------------------------
# v38: word spacing vs multi-byte codes (SPEC §3b; ISO 32000 §9.3.3)
# ---------------------------------------------------------------------------


def _pdf_tw(tw, ops_body, fbody, extra=""):
    return _pdf(f"BT /F9 10 Tf {tw} Tw 72 700 Td {ops_body} ET", _obj(5, fbody) + extra,
                _fonts("/F9 5 0 R"), count=False)


def test_v38_tw_ignores_two_byte_space_codes():
    """For a pure 2-byte Identity font in the widths regime, Tw has no
    effect at all — the §9.3.3 single-byte rule."""
    body = f"<{_hex16('hello wide world')}> Tj"
    font = (
        "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        " /DescendantFonts [8 0 R] >>"
    )
    desc = "8 0 obj\n<< /DW 600 >>\nendobj\n"
    a = _parity(_pdf_tw(0, body, font, desc))
    b = _parity(_pdf_tw(9, body, font, desc))
    assert a == b and a[0][4] == [94, 104, 220, 116]


def test_v38_tw_applies_to_single_byte_code_32():
    """A simple 1-byte font with a width table: each single-byte space
    takes the full Tw."""
    font = (
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        " /FirstChar 32 /Widths [" + " ".join(["500"] * 96) + "] >>"
    )
    a = _parity(_pdf_tw(0, "(hello wide world) Tj", font))
    b = _parity(_pdf_tw(6, "(hello wide world) Tj", font))
    # 16 codes @ .5 -> adv 80; +2 spaces x 6 = +12 -> 92
    assert a[0][4][2] == round((72 + 80) * 800 / 612)
    assert b[0][4][2] == round((72 + 92) * 800 / 612)


def test_v38_mixed_cmap_one_byte_hit_takes_tw():
    """A mixed-length CMap where (32,1) maps: the 1-byte space code DOES
    take Tw while 2-byte codes never do."""
    cm = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "2 beginbfchar\n<20> <0020>\n<0041> <0042>\nendbfchar\n"
        "endcmap\nend"
    )
    font = (
        "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R"
        " /DescendantFonts [8 0 R] >>"
    )
    extra = (
        f"6 0 obj\n<< /Length {len(cm)} >>\nstream\n{cm}\nendstream\nendobj\n"
        "8 0 obj\n<< /DW 500 >>\nendobj\n"
    )
    # show: A-pair, 1-byte space, A-pair => 3 glyphs, 1 single-byte space
    body = "<0041200041> Tj"
    a = _parity(_pdf_tw(0, body, font, extra))
    b = _parity(_pdf_tw(8, body, font, extra))
    assert [s[2] for s in a] == ["B B"] == [s[2] for s in b]
    # 3 glyphs @ .5 -> 15; one single-byte space x 8 -> +8
    assert a[0][4][2] == round((72 + 15) * 800 / 612)
    assert b[0][4][2] == round((72 + 23) * 800 / 612)
    body2 = "<0041200041200041200041200041> Tj"
    a2 = _parity(_pdf_tw(0, body2, font, extra))
    b2 = _parity(_pdf_tw(8, body2, font, extra))
    # 9 glyphs @ .5 -> 45; 4 single-byte spaces x 8 = +32
    assert a2[0][4][2] == round((72 + 45) * 800 / 612)
    assert b2[0][4][2] == round((72 + 77) * 800 / 612)


# ---------------------------------------------------------------------------
# v40: PDF 2.0 UTF-8-BOM text strings (SPEC §3b; ISO 32000-2 §7.9.2.2.1)
# ---------------------------------------------------------------------------


def test_v40_utf8_bom_actualtext():
    """A UTF-8-BOM /ActualText operand decodes; the replacement shows."""
    sent = "café — naïve 数据"
    at = "<EFBBBF" + sent.encode("utf-8").hex().upper() + ">"
    doc = _pdf(
        "BT /F1 12 Tf 72 700 Td"
        f" /Span << /ActualText {at} >> BDC (raw-) Tj (frag) Tj EMC ET"
    )
    assert _texts(doc) == [sent]


def test_v40_utf8_bom_annotation_contents():
    sent = "ünicode nøte body"
    val = "<EFBBBF" + sent.encode("utf-8").hex().upper() + ">"
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Type /Annot /Subtype /FreeText"
        f" /Rect [100 300 250 320] /Contents {val} >>\nendobj\n",
    )
    spans = _parity(doc)
    assert sent in [s[2] for s in spans]


def test_v40_utf8_bom_raw_literal_form():
    """Raw BOM bytes + octal escapes inside a literal string decode the
    same way (the form real writers emit)."""
    sent = "héllo wörld"
    u8 = sent.encode("utf-8")
    lit = "(\xef\xbb\xbf" + "".join(
        chr(b) if 0x20 <= b <= 0x7E and chr(b) not in "()\\" else f"\\{b:03o}"
        for b in u8
    ) + ")"
    doc = _pdf(
        "BT /F1 12 Tf 72 700 Td"
        f" /Span << /ActualText {lit} >> BDC (x-) Tj (y) Tj EMC ET"
    )
    assert _texts(doc) == [sent]


def test_v40_invalid_utf8_degrades_to_raw():
    """An invalid byte sequence after the BOM keeps the raw string —
    BOM included (the pinned degrade)."""
    doc = _pdf(
        "BT /F1 12 Tf 72 700 Td"
        " /Span << /ActualText <EFBBBFFFFE41424344> >> BDC"
        " (a-) Tj (b) Tj EMC ET"
    )
    spans = _parity(doc)
    # \xff\xfe is not valid UTF-8: raw string survives, BOM chars and all
    assert [s[2] for s in spans] == ["\xef\xbb\xbf\xff\xfeABCD"]


def test_v40_utf16_bom_still_wins_its_own_prefix():
    """FE FF strings keep the v24 UTF-16BE rule (prefix dispatch)."""
    sent = "pair text"
    at = "<FEFF" + "".join(f"{ord(c):04X}" for c in sent) + ">"
    doc = _pdf(
        "BT /F1 12 Tf 72 700 Td"
        f" /Span << /ActualText {at} >> BDC (z-) Tj (w) Tj EMC ET"
    )
    assert _texts(doc) == [sent]


# ---------------------------------------------------------------------------
# v43: Type3 FontMatrix glyph space (ISO 32000 §9.6.5) + Tr clip modes
# (§9.3.6 Table 106)
# ---------------------------------------------------------------------------


def test_v43_type3_fontmatrix_scales_widths():
    """A Type3 font with /FontMatrix [0.01 ...] and widths 100/50 lays
    out identically to a Type1 with 1000/500 at the 1/1000 scale."""
    t1 = _pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /FirstChar 65 /Widths [1000 500] >>",
    )
    t3 = _pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type3 /FontMatrix [0.01 0 0 0.01 0 0]"
        " /FirstChar 65 /Widths [100 50] >>",
    )
    assert _parity(t1) == _parity(t3)
    assert _parity(t3)[0][4] == [94, 104, 127, 116]


def test_v43_type3_missingwidth_takes_matrix_scale():
    """/MissingWidth is a glyph-space FontDescriptor quantity — the
    Type3 matrix scales it exactly like the /Widths entries."""
    t1 = _pdfw(
        "BT /F5 10 Tf 72 700 Td (AZA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /FirstChar 65 /Widths [1000]"
        " /FontDescriptor 6 0 R >>",
        "6 0 obj\n<< /Type /FontDescriptor /MissingWidth 400 >>\nendobj\n",
    )
    t3 = _pdfw(
        "BT /F5 10 Tf 72 700 Td (AZA) Tj ET",
        "<< /Type /Font /Subtype /Type3 /FontMatrix [0.002 0 0 0.002 0 0]"
        " /FirstChar 65 /Widths [500] /FontDescriptor 6 0 R >>",
        "6 0 obj\n<< /Type /FontDescriptor /MissingWidth 200 >>\nendobj\n",
    )
    assert _parity(t1) == _parity(t3)


def test_v43_type3_matrix_degrades_to_thousandth():
    """Missing /FontMatrix, degenerate a=0, or a 5-number array → the
    1/1000 scale (never no-table): identical to the Type1 layout."""
    ref = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /FirstChar 65 /Widths [1000 500] >>",
    ))
    for fobj in (
        "<< /Type /Font /Subtype /Type3 /FirstChar 65 /Widths [1000 500] >>",
        "<< /Type /Font /Subtype /Type3 /FontMatrix [0 0 0 0.001 0 0]"
        " /FirstChar 65 /Widths [1000 500] >>",
        "<< /Type /Font /Subtype /Type3 /FontMatrix [0.01 0 0 0.01 0]"
        " /FirstChar 65 /Widths [1000 500] >>",
    ):
        doc = _pdfw("BT /F5 10 Tf 72 700 Td (ABA) Tj ET", fobj)
        assert _parity(doc) == ref, fobj


def test_v43_tr7_clip_only_is_invisible():
    """Mode 7 adds glyphs to the clip path and paints nothing — with
    drop_invisible_text it suppresses exactly like mode 3; by default
    the OCR-layer analog extracts it."""

    doc = _pdfw(
        "BT /F5 12 Tf 7 Tr 72 700 Td (clip only line) Tj"
        " 0 Tr 1 0 0 1 72 600 Tm (visible line text) Tj ET",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["visible line text"] and _dropped(doc, cfg) == 1
    assert _texts(doc) == [
        "clip only line", "visible line text",
    ]


def test_v43_tr_modes_4_to_6_stay_visible():
    """Modes 4-6 fill/stroke AND clip — painted, never suppressed."""

    cfg = ExtractConfig(drop_invisible_text=True)
    for m in (4, 5, 6):
        doc = _pdfw(
            f"BT /F5 12 Tf {m} Tr 72 700 Td (mode stays shown) Tj ET",
        )
        assert _texts(doc, cfg) == ["mode stays shown"] and _dropped(doc, cfg) == 0


# ---------------------------------------------------------------------------
# v45: Widget /V inheritance via the /Parent field chain (ISO 32000
# §12.7.3.3)
# ---------------------------------------------------------------------------


def test_v45_widget_inherits_parent_value():
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /FT /Tx /T (name1) /V (inherited field value)"
        " /Kids [5 0 R] >>\nendobj\n",
    )
    assert _texts(doc) == [
        "page body text", "inherited field value",
    ]


def test_v45_two_level_chain_and_cycle_guard():
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /Parent 7 0 R >>\nendobj\n"
        "7 0 obj\n<< /V (grandparent value) /Parent 5 0 R >>\nendobj\n",
    )
    assert _texts(doc) == [
        "page body text", "grandparent value",
    ]


def test_v45_own_value_wins_and_name_form_blocks():
    """A widget's own /V — string OR name — decides; the walk never
    starts. A /V /On appearance state yields no text even when the
    parent carries a string."""
    own = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /V (own value) /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /V (parent value) >>\nendobj\n",
    )
    assert _texts(own) == ["page body text", "own value"]
    name_form = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /V /On /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /V (parent value) >>\nendobj\n",
    )
    assert _texts(name_form) == ["page body text"]


def test_v45_nearest_v_bearing_ancestor_decides():
    """The first ancestor WITH /V stops the walk: /Off there means no
    text even when a farther ancestor has a string; a /Value red
    herring is absence under the first-literal-occurrence key rule."""
    off = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /V /Off /Parent 7 0 R >>\nendobj\n"
        "7 0 obj\n<< /V (root value) >>\nendobj\n",
    )
    assert _texts(off) == ["page body text"]
    herring = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /Parent 6 0 R >>\nendobj\n"
        "6 0 obj\n<< /Value 3 /V (shadowed) /Parent 7 0 R >>\nendobj\n"
        "7 0 obj\n<< /V (root wins here) >>\nendobj\n",
    )
    assert _texts(herring) == [
        "page body text", "root wins here",
    ]


def test_v45_dangling_parent_skips():
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /Widget /Rect [100 100 300 120]"
        " /Parent 66 0 R >>\nendobj\n",
    )
    assert _texts(doc) == ["page body text"]


# ---------------------------------------------------------------------------
# v47: literal-string end-of-line semantics (ISO 32000 §7.3.4.2)
# ---------------------------------------------------------------------------


def test_v47_raw_eols_read_as_lf():
    """Raw CR and CRLF inside a literal are EOLs — each reads as one LF
    (whitespace at assembly), never as a CR byte or a glued word."""
    doc = _pdfw(
        "BT /F5 12 Tf 72 700 Td (alpha\r\nbeta\rgamma) Tj ET",
    )
    assert _texts(doc)[0] == "alpha beta gamma"


def test_v47_backslash_eol_continuations():
    """\\LF, \\CR and \\CRLF are all line continuations — they read as
    NOTHING, joining the halves seamlessly."""
    for eol in ("\\\n", "\\\r", "\\\r\n"):
        doc = _pdfw(
            f"BT /F5 12 Tf 72 700 Td (conti{eol}nued word here) Tj ET",
        )
        assert _texts(doc)[0] == "continued word here", repr(eol)


def test_v47_escaped_cr_bytes_survive_the_reader():
    """The \\r escape and octal \\015 still produce CR BYTES (the
    §7.3.4.2 EOL rules cover raw EOLs and backslash-EOL pairs only);
    assembly renders them as separators, proving the byte existed."""
    doc = _pdfw(
        "BT /F5 12 Tf 72 700 Td (a\\rb\\015c) Tj ET",
    )
    assert _texts(doc)[0] == "a b c"


def test_v47_annotation_strings_share_the_rules():
    doc = _pdfa(
        "[5 0 R]",
        "5 0 obj\n<< /Subtype /FreeText /Rect [100 100 300 120]"
        " /Contents (line\r\nbroken conti\\\r\nnued) >>\nendobj\n",
    )
    assert any(s[2] == "line broken continued" for s in _parity(doc))


# ---------------------------------------------------------------------------
# v48: #XX name escapes (ISO 32000 §7.3.5)
# ---------------------------------------------------------------------------


def _pdfn48(ops: str, fontdecl: str) -> str:
    font = "<< /Type /Font /Subtype /Type1 /FirstChar 65 /Widths [1000 500] >>"
    return _pdf(ops, _obj(5, font), _fonts(fontdecl), count=False, length=False)


def test_v48_escaped_key_matches_plain_operand_and_vice_versa():
    ref = _parity(_pdfn48("BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R"))
    assert ref[0][4] == [94, 104, 127, 116]  # the widths table resolved
    for ops_f, key_f in (("/F1", "/F#31"), ("/F#31", "/F1"), ("/F#31", "/F#31")):
        doc = _pdfn48(f"BT {ops_f} 10 Tf 72 700 Td (ABA) Tj ET", f"{key_f} 5 0 R")
        assert _parity(doc) == ref, (ops_f, key_f)


def test_v48_space_in_name_and_invalid_escape():
    ref = _parity(_pdfn48("BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R"))
    doc = _pdfn48("BT /A#20B 10 Tf 72 700 Td (ABA) Tj ET", "/A#20B 5 0 R")
    assert _parity(doc) == ref
    # a '#' not followed by two hex digits stays literal — still matches
    # its byte-identical self
    doc2 = _pdfn48("BT /F#3 10 Tf 72 700 Td (ABA) Tj ET", "/F#3 5 0 R")
    assert _parity(doc2) == ref


def test_v48_escaped_type_value_detects_page():
    ref = _parity(_pdfn48("BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R"))
    doc = _pdfn48("BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R").replace(
        "/Type /Page ", "/Type /Pa#67e ", 1
    )
    assert _parity(doc) == ref


def test_v48_standard_keys_match_literally():
    """Pinned scope: a #-escaped standard KEY (/Wi#64ths) is a no-match
    — the widths table must NOT form (the average rule applies)."""
    now = _parity(_pdfn48(
        "BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R"
    ).replace("/Widths", "/Wi#64ths"))
    avg = _parity(_pdfn48(
        "BT /F1 10 Tf 72 700 Td (ABA) Tj ET", "/F1 5 0 R"
    ).replace(" /FirstChar 65 /Widths [1000 500]", ""))
    assert now == avg


# ---------------------------------------------------------------------------
# v49: form XObject /BBox clipping (ISO 32000 §8.10.1)
# ---------------------------------------------------------------------------


def _pdff49(form_extra: str, form_ops: str) -> str:
    return _pdf(
        "BT /F1 10 Tf 72 700 Td (page body line) Tj ET\n/Fx Do",
        _obj(5, f"<< /Subtype /Form{form_extra} >>\nstream\n{form_ops}\nendstream"),
        " /Resources << /XObject << /Fx 5 0 R >> >>", count=False, length=False,
    )


_OPS49 = (
    "BT /F1 10 Tf 50 50 Td (inside the box) Tj"
    " 1 0 0 1 300 300 Tm (outside gone) Tj ET"
)


def test_v49_bbox_clips_outside_lines():
    sp = _parity(_pdff49(" /BBox [0 0 200 100]", _OPS49))
    texts = [s[2] for s in sp]
    assert any("inside the box" in t for t in texts)
    assert not any("outside gone" in t for t in texts)


def test_v49_reversed_corners_normalize():
    a = _parity(_pdff49(" /BBox [0 0 200 100]", _OPS49))
    b = _parity(_pdff49(" /BBox [200 100 0 0]", _OPS49))
    assert a == b


def test_v49_missing_or_malformed_bbox_never_clips():
    ref = _parity(_pdff49("", _OPS49))
    assert any("outside gone" in s[2] for s in ref)
    assert _parity(_pdff49(" /BBox [0 0 zz 100]", _OPS49)) == ref
    assert _parity(_pdff49(" /BBox [0 0 200]", _OPS49)) == ref


def test_v49_interior_cm_disables_q_restores():
    """An interior cm re-binds the CTM and disables the form-space test
    (pinned); a balanced q...Q restores the entry tuple and re-enables."""
    moved = _parity(_pdff49(
        " /BBox [0 0 200 100]",
        "BT /F1 10 Tf ET 2 0 0 2 0 0 cm"
        " BT /F1 10 Tf 300 300 Td (cm moved text) Tj ET",
    ))
    assert any("cm moved text" in s[2] for s in moved)
    requenched = _parity(_pdff49(
        " /BBox [0 0 200 100]",
        "BT /F1 10 Tf 50 50 Td (kept early line) Tj ET"
        " q 2 0 0 2 0 0 cm Q"
        " BT /F1 10 Tf 1 0 0 1 300 300 Tm (post q clipped) Tj ET",
    ))
    texts = [s[2] for s in requenched]
    assert any("kept early line" in t for t in texts)
    assert not any("post q clipped" in t for t in texts)


def test_v49_page_content_never_clips():
    """Only forms carry a BBox — page streams are never clipped even
    when the page object carries a stray /BBox key."""
    doc = _pdff49(" /BBox [0 0 200 100]", _OPS49).replace(
        "/Type /Page /Parent", "/BBox [0 0 10 10] /Type /Page /Parent"
    )
    assert any("page body line" in s[2] for s in _parity(doc))


# ---------------------------------------------------------------------------
# v51: clipping paths — re W n (ISO 32000 §8.5.4)
# ---------------------------------------------------------------------------


def test_v51_clip_rect_suppresses_outside_text():
    assert _texts(_pdfw(
        "50 600 300 150 re W n "
        "BT /F5 12 Tf 72 700 Td (inside clip rect) Tj"
        " 1 0 0 1 400 700 Tm (outside clip gone) Tj ET",
    )) == ["inside clip rect"]


def test_v51_q_restores_the_clip():
    assert _texts(_pdfw(
        "q 50 600 300 150 re W n "
        "BT /F5 12 Tf 400 700 Td (clipped here) Tj ET Q "
        "BT /F5 12 Tf 400 700 Td (restored visible) Tj ET",
    )) == ["restored visible"]


def test_v51_intersection_and_empty_clip():
    assert _texts(_pdfw(
        "0 0 612 792 re W n 50 600 300 150 re W n "
        "BT /F5 12 Tf 72 700 Td (still inside both) Tj"
        " 1 0 0 1 400 300 Tm (outside second) Tj ET",
    )) == ["still inside both"]
    empty = _parity(_pdfw(
        "50 600 100 100 re W n 400 100 50 50 re W n "
        "BT /F5 12 Tf 72 650 Td (everything clipped) Tj ET",
    ))
    assert empty == []


def test_v51_degrades_rectless_w_fill_and_cm():
    """W with no rect leaves the clip unchanged; a painting op without
    W never clips; an re under a changed CTM records unknown-space."""
    assert _texts(_pdfw(
        "W n BT /F5 12 Tf 72 700 Td (no rect no clip) Tj ET "
        "50 50 100 100 re f "
        "BT /F5 12 Tf 1 0 0 1 72 600 Tm (fill does not clip) Tj ET",
    )) == ["no rect no clip", "fill does not clip"]
    assert _texts(_pdfw(
        "2 0 0 2 0 0 cm 10 10 20 20 re W n "
        "BT /F5 12 Tf 200 200 Td (cm rect ignored) Tj ET",
    )) == ["cm rect ignored"]


# ---------------------------------------------------------------------------
# v52: ExtGState fill alpha — gs /ca 0 invisible text (ISO 32000 §8.4.5)
# ---------------------------------------------------------------------------


def _pdfg52(gsdecl: str, ops: str, gsobjs: str) -> str:
    return _pdf(ops, gsobjs, f" /Resources << /ExtGState << {gsdecl} >> >>",
                count=False, length=False)


def test_v52_alpha_zero_suppresses_under_config():

    doc = _pdfg52(
        "/GS0 7 0 R /GS1 8 0 R",
        "BT /F1 12 Tf /GS0 gs 72 700 Td (alpha zero hidden) Tj"
        " /GS1 gs 1 0 0 1 72 600 Tm (alpha one visible) Tj ET",
        "7 0 obj\n<< /Type /ExtGState /ca 0 >>\nendobj\n"
        "8 0 obj\n<< /Type /ExtGState /ca 1 >>\nendobj\n",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["alpha one visible"] and _dropped(doc, cfg) == 1
    # default: the OCR-text-layer analog extracts invisible text
    assert _texts(doc) == [
        "alpha zero hidden", "alpha one visible",
    ]


def test_v52_q_restores_and_noop_entries():
    """q/Q restore the alpha flag; unknown names, entries without /ca
    and operandless gs change nothing (a gs dict updates only the
    parameters present)."""

    doc = _pdfg52(
        "/GS0 7 0 R /GSX 9 0 R",
        "BT /F1 12 Tf q /GS0 gs 72 700 Td (hidden in q) Tj ET Q"
        " BT /F1 12 Tf /Zz gs /GSX gs gs 72 600 Td (still visible here)"
        " Tj ET",
        "7 0 obj\n<< /ca 0.0 >>\nendobj\n"
        "9 0 obj\n<< /Type /ExtGState /LW 2 >>\nendobj\n",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["still visible here"] and _dropped(doc, cfg) == 1


def test_v52_nonzero_ca_restores_visibility():

    doc = _pdfg52(
        "/GA 7 0 R /GB 8 0 R",
        "BT /F1 12 Tf /GA gs 72 700 Td (ghosted away) Tj"
        " /GB gs 1 0 0 1 72 600 Tm (half alpha shows) Tj ET",
        "7 0 obj\n<< /ca 0 >>\nendobj\n"
        "8 0 obj\n<< /ca 0.5 >>\nendobj\n",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["half alpha shows"] and _dropped(doc, cfg) == 1


# ---------------------------------------------------------------------------
# v53: Identity-V vertical writing mode (ISO 32000 §9.7.4.3)
# ---------------------------------------------------------------------------


def _pdfv53(ops: str) -> str:
    return _pdf(
        ops,
        _obj(5, "<< /Type /Font /Subtype /Type0 /Encoding /Identity-V >>")
        + _obj(6, "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H >>"),
        _fonts("/FV 5 0 R /FH 6 0 R"), count=False, length=False,
    )


def _enc2(txt: str) -> str:
    return "".join(
        f"\\{ord(c) >> 8:03o}\\{ord(c) & 0xFF:03o}" for c in txt
    )


def test_v53_vertical_column_box_is_tall():
    """An Identity-V show emits a descending column: fontsize wide,
    (fs+Tc)·glyphs tall, topped at the pen; its Identity-H twin emits
    the usual wide line box."""
    spv = _parity(_pdfv53(
        f"BT /FV 12 Tf 300 700 Td ({_enc2('縦書き')}) Tj ET"
    ))
    bv = spv[0][4]
    assert spv[0][2] == "縦書き" and bv[2] - bv[0] < bv[3] - bv[1]
    sph = _parity(_pdfv53(
        f"BT /FH 12 Tf 300 700 Td ({_enc2('縦書き')}) Tj ET"
    ))
    bh = sph[0][4]
    assert bh[2] - bh[0] > bh[3] - bh[1]


def test_v53_tc_adds_tw_tz_rise_do_not():
    """Vertical advance = (fs+Tc)·glyphs; Tw (2-byte codes), Tz
    (horizontal-only) and Ts never change it."""
    base = _parity(_pdfv53(
        f"BT /FV 12 Tf 300 700 Td ({_enc2('縦書き文')}) Tj ET"
    ))[0][4]
    tc = _parity(_pdfv53(
        f"BT /FV 12 Tf 6 Tc 300 700 Td ({_enc2('縦書き文')}) Tj ET"
    ))[0][4]
    assert tc[3] - tc[1] > base[3] - base[1]
    inert = _parity(_pdfv53(
        f"BT /FV 12 Tf 9 Tw 50 Tz 4 Ts 300 700 Td ({_enc2('縦書き文')}) Tj ET"
    ))[0][4]
    assert inert == base


def test_v53_two_columns_separate():
    """Two Tm-positioned vertical columns yield two spans (XY-cut
    separates them; LTR column order is the documented degrade)."""
    sp = _parity(_pdfv53(
        f"BT /FV 14 Tf 400 700 Td ({_enc2('右の列')}) Tj"
        f" 1 0 0 1 200 700 Tm ({_enc2('左の列')}) Tj ET"
    ))
    assert sorted(s[2] for s in sp) == ["右の列", "左の列"]
    assert len({(s[4][0], s[4][2]) for s in sp}) == 2


def test_v53_tounicode_wins_and_lays_horizontal():
    """A V font WITH a usable ToUnicode takes the ToUnicode entry and
    lays out horizontally (pinned — ToUnicode carries no wmode)."""
    doc = _pdf(
        "BT /FV 12 Tf 100 700 Td (\\000A\\000B\\000C) Tj ET",
        _obj(5, "<< /Type /Font /Subtype /Type0 /Encoding /Identity-V /ToUnicode 7 0 R >>")
        + _obj(7, "<< /Length 96 >>\nstream\nbegincmap\n3 beginbfrange\n"
                  "<0041> <0043> <0061>\nendbfrange\nendcmap\nendstream"),
        _fonts("/FV 5 0 R"), count=False, length=False,
    )
    sp = _parity(doc)
    assert sp and sp[0][2] == "abc"
    b = sp[0][4]
    assert b[2] - b[0] > b[3] - b[1]  # horizontal (pinned)


# ---------------------------------------------------------------------------
# v54: predefined Unicode CMap names (ISO 32000 §9.7.5.2 Table 118)
# ---------------------------------------------------------------------------


def _pdfu54(encname: str, ops: str) -> str:
    font = f"<< /Type /Font /Subtype /Type0 /Encoding /{encname} >>"
    return _pdf(ops, _obj(5, font), _fonts("/FU 5 0 R"), count=False, length=False)


def test_v54_uni_names_decode_two_byte():
    """UniGB-UCS2-H behaves exactly like Identity-H: 2-byte identity
    decode, horizontal line box."""
    sp = _parity(_pdfu54(
        "UniGB-UCS2-H",
        f"BT /FU 12 Tf 100 700 Td ({_enc2('中文文本')}) Tj ET",
    ))
    assert sp[0][2] == "中文文本"
    b = sp[0][4]
    assert b[2] - b[0] > b[3] - b[1]


def test_v54_uni_v_names_lay_vertical():
    sp = _parity(_pdfu54(
        "UniJIS-UCS2-V",
        f"BT /FU 12 Tf 300 700 Td ({_enc2('縦書き文')}) Tj ET",
    ))
    assert sp[0][2] == "縦書き文"
    b = sp[0][4]
    assert b[2] - b[0] < b[3] - b[1]


def test_v54_non_uni_and_suffixless_degrade():
    """Legacy mixed-width CMaps (90ms-RKSJ-H) and suffixless Uni names
    keep the pre-v54 1-byte identity degrade."""
    assert _texts(_pdfu54(
        "90ms-RKSJ-H", "BT /FU 12 Tf 100 700 Td (plain ascii text) Tj ET",
    ))[0] == "plain ascii text"
    assert _texts(_pdfu54(
        "UniGB-UCS2", "BT /FU 12 Tf 100 700 Td (suffixless text) Tj ET",
    ))[0] == "suffixless text"


# ---------------------------------------------------------------------------
# v56: core-font built-in AFM metrics (ISO 32000 §9.6.2.2 standard 14)
# ---------------------------------------------------------------------------


def test_v56_helvetica_builtin_metrics():
    """'iii' is much narrower than 'MMM' under real Helvetica metrics —
    the 0.5-average heuristic made them equal."""
    ni = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (iii) Tj ET",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ))[0][4]
    nm = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (MMM) Tj ET",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ))[0][4]
    assert nm[2] - nm[0] > 3 * (ni[2] - ni[0])  # 833 vs 222 per glyph


def test_v56_explicit_widths_win_and_subset_prefix():
    assert _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        " /FirstChar 65 /Widths [1000 500] >>",
    ))[0][4] == [94, 104, 127, 116]
    a = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Helvetica >>",
    ))
    b = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ))
    assert a == b


def test_v56_courier_family_fixed_pitch():
    for bf in ("Courier", "Courier-Bold", "Courier-Oblique",
               "Courier-BoldOblique"):
        b = _parity(_pdfw(
            "BT /F5 10 Tf 72 700 Td (iMiM) Tj ET",
            f"<< /Type /Font /Subtype /Type1 /BaseFont /{bf} >>",
        ))[0][4]
        want = round((72 + 24) * 800 / 612) - round(72 * 800 / 612)
        assert b[2] - b[0] == want, (bf, b)


def test_v56_variants_keep_the_heuristic():
    """Helvetica-Bold / Times-Italic / unknown faces have different (or
    no) AFMs — no guessed metrics, the average rule stands (pinned)."""
    ref = _parity(_pdfw(
        "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
    ))
    for bf in ("Helvetica-Bold", "Times-Italic", "Georgia"):
        got = _parity(_pdfw(
            "BT /F5 10 Tf 72 700 Td (ABA) Tj ET",
            f"<< /Type /Font /Subtype /Type1 /BaseFont /{bf} >>",
        ))
        assert got == ref, bf


def test_v56_kernel_oracle_afm_tables_equal():
    """The two independent AFM literal forms must agree value-for-value
    (the v18 base-encoding gate pattern)."""
    from paddleocr_spark.functions.realpdf import (
        _AFM_HELVETICA, _AFM_TIMES,
    )
    from paddleocr_spark.oracle import _RPDF_AFM_HELV, _RPDF_AFM_TIMES

    assert len(_AFM_HELVETICA) == len(_RPDF_AFM_HELV) == 95
    assert tuple(_AFM_HELVETICA) == tuple(_RPDF_AFM_HELV)
    assert tuple(_AFM_TIMES) == tuple(_RPDF_AFM_TIMES)


# ---------------------------------------------------------------------------
# v57: form-level /ExtGState — gs inside a Form XObject resolves through
# the form's OWN /Resources (ISO 32000 §8.10.2)
# ---------------------------------------------------------------------------


def _pdfv57(form_res: str, form_ops: str, page_ops: str = "/Fx Do") -> str:
    form = (f"<< /Type /XObject /Subtype /Form{form_res} /Length {len(form_ops)} >>\n"
            f"stream\n{form_ops}\nendstream")
    return _pdf(
        page_ops,
        _obj(5, form) + _obj(7, "<< /Type /ExtGState /ca 0 >>")
        + _obj(8, "<< /Type /ExtGState /ca 1 >>"),
        " /Resources << /XObject << /Fx 5 0 R >> >>", count=False, length=False,
    )


def test_v57_form_extgstate_alpha_zero_suppresses():
    """gs /ca 0 resolved from the FORM's own /ExtGState hides the form
    text under drop_invisible_text — the ADVICE round-4 parity case."""
    doc = _pdfv57(
        " /Resources << /ExtGState << /FGA 7 0 R /FGB 8 0 R >> >>",
        "BT /F1 10 Tf /FGA gs 72 700 Td (form ghost line) Tj"
        " /FGB gs 1 0 0 1 72 600 Tm (form visible line) Tj ET",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["form visible line"] and _dropped(doc, cfg) == 1
    # default config: the OCR-layer analog extracts both
    assert _texts(doc) == [
        "form ghost line", "form visible line",
    ]


def test_v57_page_gs_name_unknown_in_form_is_noop():
    """A gs name defined only at page level is NOT visible inside the
    form (the form's table is authoritative) — text stays visible."""
    doc = _pdf(
        "/Fx Do",
        _obj(5, "<< /Type /XObject /Subtype /Form /Length 54 >>\nstream\n"
                "BT /F1 10 Tf /GA gs 72 700 Td (survives inside) Tj ET\nendstream")
        + _obj(7, "<< /Type /ExtGState /ca 0 >>"),
        " /Resources << /XObject << /Fx 5 0 R >> /ExtGState << /GA 7 0 R >> >>",
        count=False, length=False,
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["survives inside"] and _dropped(doc, cfg) == 0


def test_v57_form_alpha_does_not_leak_to_invoker():
    """The form sets alpha 0 and never restores; text after Do on the
    page still renders (invoker state untouched across Do)."""
    doc = _pdfv57(
        " /Resources << /ExtGState << /FGA 7 0 R >> >>",
        "BT /F1 10 Tf /FGA gs 72 700 Td (ghost in form) Tj ET",
        page_ops="/Fx Do\nBT /F1 10 Tf 72 500 Td (page text after) Tj ET",
    )
    cfg = ExtractConfig(drop_invisible_text=True)
    assert _texts(doc, cfg) == ["page text after"] and _dropped(doc, cfg) == 1


def test_v57_kidsless_subset_prefix_core_font_metrics():
    """A Kids-less doc whose only core-font mention is subset-prefixed
    (/ABCDEF+Helvetica) must still take the slow path and get builtin
    AFM metrics (round-4 ADVICE: the fast-path gate was slash-anchored)."""
    def kidsless(bf):
        return (
            "%PDF-1.4\n"
            "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            "2 0 obj\n<< /Type /Pages /MediaBox [0 0 612 792] >>\nendobj\n"
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
            " /Resources << /Font << /F5 5 0 R >> >> >>\nendobj\n"
            "4 0 obj\n<< >>\nstream\n"
            "BT /F5 10 Tf 72 700 Td (iMiM) Tj ET\nendstream\nendobj\n"
            f"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /{bf} >>"
            "\nendobj\n"
            "trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        )
    a = _parity(kidsless("ABCDEF+Helvetica"))
    b = _parity(kidsless("Helvetica"))
    assert a == b
    # proportional metrics actually applied: i (222) vs M (833) differ,
    # so the box is narrower than the fixed-average estimate would give
    c = _parity(kidsless("SomeUnknownFace"))
    assert a[0][4] != c[0][4]


def test_v57_utf16_names_two_byte():
    """UTF16 variants decode 2-byte BMP units (the round-4 ADVICE
    restriction; v62 later made UTF32 names real 4-byte — see the v62
    section — so only the UTF16 half of the original pin remains)."""
    assert _texts(_pdfu54(
        "UniKS-UTF16-H",
        f"BT /FU 12 Tf 100 700 Td ({_enc2('한국어텍스트')}) Tj ET",
    ))[0] == "한국어텍스트"


# ---------------------------------------------------------------------------
# v59: encrypted PDFs — standard security handler, EMPTY user password
# (ISO 32000-1 §7.6.3, ISO 32000-2 §7.6.4); owner-password-only docs and
# unsupported handlers keep the v11 whole-payload refusal
# ---------------------------------------------------------------------------


def _encrypt59(plain: str, scheme: str, corrupt_u: bool = False) -> str:
    """Test-side encryptor built on the package crypto primitives (the
    corpus encryptor re-derives the same construction with rng-drawn
    parameters)."""

    from paddleocr_spark.functions.pdfcrypt import (
        aes_encrypt_cbc,
        file_key_rc4,
        object_key,
        r6_make_user_entries,
        rc4,
        user_check_r2,
        user_check_r34,
    )

    id0 = hashlib.md5(b"v59-demo").digest()
    o = bytes(range(32))
    p = -44
    v, r, nb, aes, ln = {
        "rc4_40": (1, 2, 5, False, 40),
        "rc4_128": (2, 3, 16, False, 128),
        "aesv2": (4, 4, 16, True, 128),
        "aesv3": (5, 6, 32, True, 256),
    }[scheme]
    if v == 5:
        key = hashlib.sha256(b"fk59").digest()
        u, ue = r6_make_user_entries(key, b"vsalt678", b"ksalt678")
        uent = (
            f"/O <{(o + o[:16]).hex()}> /OE <{bytes(32).hex()}>"
            f" /U <{u.hex()}> /UE <{ue.hex()}>"
        )
    else:
        key = file_key_rc4(o, p, id0, r, nb)
        u = (
            user_check_r2(key)
            if r == 2
            else user_check_r34(key, id0) + bytes(16)
        )
        uent = f"/O <{o.hex()}> /U <{u.hex()}>"
    if corrupt_u:
        uent = uent.replace(u.hex(), "ff" + u.hex()[2:], 1)

    # encrypt each object's stream body in place (non-greedy per object)
    def repl(m):
        onum = int(m.group(1))
        head, data = m.group(2), m.group(3)
        okey = key if v == 5 else object_key(key, onum, 0, aes)
        enc = (
            aes_encrypt_cbc(okey, b"\x07" * 16, data.encode("latin-1"))
            if aes
            else rc4(okey, data.encode("latin-1"))
        )
        return (
            f"{m.group(1)} 0 obj{head}stream\n"
            + enc.decode("latin-1")
            + "\nendstream"
        )

    out = re.sub(
        r"(\d+) 0 obj((?:(?!endobj).)*?)stream\n(.*?)\nendstream",
        repl,
        plain,
        flags=re.DOTALL,
    )
    extra = ""
    if v == 4:
        extra = (
            " /CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF /StrF /StdCF"
        )
    elif v == 5:
        extra = (
            " /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF /StrF /StdCF"
        )
    encobj = (
        f"9 0 obj\n<< /Filter /Standard /V {v} /R {r} /Length {ln}"
        f" /P {p} {uent}{extra} >>\nendobj\n"
    )
    return out.replace(
        "trailer\n<< /Root 1 0 R >>",
        f"{encobj}trailer\n<< /Root 1 0 R /Encrypt 9 0 R"
        f" /ID [<{id0.hex()}> <{id0.hex()}>] >>",
    )


_V59_PLAIN = _pdf("BT /F1 12 Tf 72 700 Td (secret page text here) Tj ET",
                  count=False, length=False)


def test_v59_all_schemes_decrypt_to_plain_twin():
    want = _parity(_V59_PLAIN)
    for scheme in ("rc4_40", "rc4_128", "aesv2", "aesv3"):
        doc = _encrypt59(_V59_PLAIN, scheme)
        assert "secret page text" not in doc  # actually ciphered
        assert _parity(doc) == want, scheme


def test_v59_wrong_user_password_refuses():
    for scheme in ("rc4_128", "aesv3"):
        doc = _encrypt59(_V59_PLAIN, scheme, corrupt_u=True)
        assert _parity(doc) == [] and _dropped(doc) == 1, scheme


def test_v59_unsupported_handler_refuses():
    # non-Standard filter
    doc = _encrypt59(_V59_PLAIN, "rc4_128").replace(
        "/Filter /Standard", "/Filter /MyCustom"
    )
    assert _parity(doc) == [] and _dropped(doc) == 1
    # dangling /Encrypt ref (the legacy v11 corpus draw)
    doc2 = _V59_PLAIN.replace(
        "trailer\n<< /Root 1 0 R >>",
        "trailer\n<< /Root 1 0 R /Encrypt 99 0 R >>",
    )
    assert _parity(doc2) == [] and _dropped(doc2) == 1


def test_v59_dict_string_decryption():
    """Dict-level strings (annotation /Contents) decrypt per object —
    covered with an explicitly encrypted annot string."""

    from paddleocr_spark.functions.pdfcrypt import (
        file_key_rc4,
        object_key,
        rc4,
        user_check_r34,
    )

    id0 = hashlib.md5(b"v59-demo").digest()
    o = bytes(range(32))
    key = file_key_rc4(o, -44, id0, 3, 16)
    u = user_check_r34(key, id0) + bytes(16)
    sval = b"annot words decrypted"
    senc = rc4(object_key(key, 7, 0, False), sval)
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        " /Annots [7 0 R] >>\nendobj\n"
        "4 0 obj\n<< >>\nstream\n"
        + rc4(object_key(key, 4, 0, False),
              b"BT /F1 10 Tf 72 700 Td (page body words) Tj ET").decode("latin-1")
        + "\nendstream\nendobj\n"
        "7 0 obj\n<< /Type /Annot /Subtype /FreeText"
        f" /Rect [100 100 300 130] /Contents <{senc.hex()}> >>\nendobj\n"
        "9 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -44"
        f" /O <{o.hex()}> /U <{u.hex()}> >>\nendobj\n"
        "trailer\n<< /Root 1 0 R /Encrypt 9 0 R"
        f" /ID [<{id0.hex()}> <{id0.hex()}>] >>\n%%EOF\n"
    )
    assert _texts(doc) == ["page body words", "annot words decrypted"]


# ---------------------------------------------------------------------------
# v60: /W2 + /DW2 vertical CID metrics (ISO 32000 §9.7.4.3 Table 117)
# ---------------------------------------------------------------------------


def _pdfv60(vdecl: str, ops: str, extra: str = "") -> str:
    return _pdf(
        ops,
        _obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /X"
                " /Encoding /Identity-V /DescendantFonts [6 0 R] >>")
        + _obj(6, f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X{vdecl} >>") + extra,
        _fonts("/FV 5 0 R"), count=False, length=False,
    )


def _enc2v(s: str) -> str:
    return "".join("\0" + c for c in s)


def test_v60_w2_per_code_vertical_advances():
    """'v' gets a 2 em drop from /W2, the rest the /DW2 0.5 em default —
    the column is exactly (2.0 + 3*0.5) * fs tall."""
    doc = _pdfv60(
        " /DW2 [880 -500] /W2 [118 118 -2000 0 0]",
        f"BT /FV 10 Tf 300 700 Td ({_enc2v('vert')}) Tj ET",
    )
    sp = _parity(doc)
    assert sp[0][2] == "vert"
    b = sp[0][4]
    assert abs((b[3] - b[1]) * 792 / 1000 - 35.0) < 1.0
    # taller than the default-metrics twin would be (4 * 10 = 40 > 35)
    dflt = _parity(_pdfv60(
        "", f"BT /FV 10 Tf 300 700 Td ({_enc2v('vert')}) Tj ET",
    ))[0][4]
    assert (dflt[3] - dflt[1]) > (b[3] - b[1])


def test_v60_bracket_triples_and_range_forms():
    # bracket triples: codes 118,119 ('v','w')
    tri = _parity(_pdfv60(
        " /W2 [118 [-1500 0 0 -1500 0 0]]",
        f"BT /FV 10 Tf 300 700 Td ({_enc2v('vwvw')}) Tj ET",
    ))[0][4]
    assert abs((tri[3] - tri[1]) * 792 / 1000 - 60.0) < 1.0
    # range form over the letter band
    rng_ = _parity(_pdfv60(
        " /W2 [97 122 -1200 0 0]",
        f"BT /FV 10 Tf 300 700 Td ({_enc2v('abc')}) Tj ET",
    ))[0][4]
    assert abs((rng_[3] - rng_[1]) * 792 / 1000 - 36.0) < 1.0


def test_v60_dw2_only_and_ref_array():
    d = _parity(_pdfv60(
        " /DW2 [880 -600]",
        f"BT /FV 10 Tf 300 700 Td ({_enc2v('abcd')}) Tj ET",
    ))[0][4]
    assert abs((d[3] - d[1]) * 792 / 1000 - 24.0) < 1.0
    # /W2 as a ref'd array object
    doc = _pdfv60(" /W2 7 0 R", f"BT /FV 10 Tf 300 700 Td ({_enc2v('abcd')}) Tj ET",
                  _obj(7, "[ 32 126 -900 0 0 ]"))
    b = _parity(doc)[0][4]
    assert abs((b[3] - b[1]) * 792 / 1000 - 36.0) < 1.0


def test_v60_malformed_refuses_to_default():
    """Traps keep the exact v53 default layout: non-triple brackets,
    reversed bounds, short range groups, one-element /DW2."""
    want = _parity(_pdfv60(
        "", f"BT /FV 10 Tf 300 700 Td ({_enc2v('abc')}) Tj ET",
    ))
    for vdecl in (
        " /W2 [97 [600]]",
        " /W2 [97 90 -500 0 0]",
        " /W2 [97 122 -500 0]",
        " /DW2 [880]",
    ):
        got = _parity(_pdfv60(
            vdecl, f"BT /FV 10 Tf 300 700 Td ({_enc2v('abc')}) Tj ET",
        ))
        assert got == want, vdecl


def test_v60_horizontal_font_ignores_w2_path():
    """An Identity-H font with the same descendant keeps horizontal
    layout driven by /W (or the default) — /W2 never applies
    horizontally."""
    doc = _pdfv60(
        " /DW2 [880 -500] /W2 [97 122 -2000 0 0]",
        f"BT /FV 10 Tf 100 700 Td ({_enc2v('abc')}) Tj ET",
    ).replace("/Identity-V", "/Identity-H")
    b = _parity(doc)[0][4]
    assert b[2] - b[0] > b[3] - b[1]  # horizontal line box


# ---------------------------------------------------------------------------
# v61: UTF-16 predefined CMaps — surrogate pairs combine (ISO §9.7.5.2)
# ---------------------------------------------------------------------------


def _enc_u16(txt: str) -> str:
    out = []
    for ch in txt:
        o = ord(ch)
        if o > 0xFFFF:
            o -= 0x10000
            out.append(f"{0xD800 + (o >> 10):04X}{0xDC00 + (o & 0x3FF):04X}")
        else:
            out.append(f"{o:04X}")
    return "".join(out)


def _pdfu61(ename: str, ops: str) -> str:
    font = f"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /{ename} >>"
    return _pdf(ops, _obj(5, font), _fonts("/FU 5 0 R"), count=False, length=False)


def test_v61_utf16_pairs_combine_to_astral():
    assert _texts(_pdfu61(
        "UniKS-UTF16-H",
        f"BT /FU 12 Tf 100 700 Td <{_enc_u16('emoji 😀 math 𝒜 done')}> Tj ET",
    ))[0] == "emoji 😀 math 𝒜 done"


def test_v61_ucs2_and_identity_keep_fffd():
    """UCS2 names and Identity-H NEVER pair — surrogates stay U+FFFD
    (a CID stream's 0xD8xx codes are CIDs, not UTF-16)."""
    for ename in ("UniGB-UCS2-H", "Identity-H"):
        assert _texts(_pdfu61(
            ename,
            f"BT /FU 12 Tf 100 700 Td <{_enc_u16('pair 😀 here')}> Tj ET",
        ))[0] == "pair �� here", ename


def test_v61_lone_surrogates_degrade():
    """A trailing high surrogate, a bare low, and a high followed by a
    BMP unit all decode U+FFFD without consuming the neighbour."""
    assert _texts(_pdfu61(
        "UniJIS2004-UTF16-H",
        "BT /FU 12 Tf 100 700 Td <0041D8010042DC050043D801> Tj ET",
    ))[0] == "A�B�C�"


def test_v61_vertical_utf16_lays_columns():
    sp = _parity(_pdfu61(
        "UniKS-UTF16-V",
        f"BT /FU 12 Tf 300 700 Td <{_enc_u16('세로 🚀 텍스트')}> Tj ET",
    ))
    assert sp[0][2] == "세로 🚀 텍스트"
    b = sp[0][4]
    assert b[3] - b[1] > b[2] - b[0]  # column box


def test_v61_pair_is_one_glyph_for_advance():
    """With a /DW2-bearing vertical font, the astral pair advances ONE
    default step (a pair is one glyph), so 'a😀b' is 3 glyphs tall."""
    doc = _pdf(
        f"BT /FU 10 Tf 300 700 Td <{_enc_u16('a😀b')}> Tj ET",
        _obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /X"
                " /Encoding /UniKS-UTF16-V /DescendantFonts [6 0 R] >>")
        + _obj(6, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X /DW2 [880 -700] >>"),
        _fonts("/FU 5 0 R"), count=False, length=False,
    )
    sp = _parity(doc)
    assert sp[0][2] == "a😀b"
    b = sp[0][4]
    assert abs((b[3] - b[1]) * 792 / 1000 - 21.0) < 1.0  # 3 glyphs * 0.7 em


# ---------------------------------------------------------------------------
# v62: UTF-32 predefined CMaps — real 4-byte code points
# ---------------------------------------------------------------------------


def _enc_u32(txt: str) -> str:
    return "".join(f"{ord(c):08X}" for c in txt)


def test_v62_utf32_codes_decode_incl_astral():
    assert _texts(_pdfu54(
        "UniJIS2004-UTF32-H",
        f"BT /FU 12 Tf 100 700 Td <{_enc_u32('utf32 😀 and 𝒜 here')}> Tj ET",
    ))[0] == "utf32 😀 and 𝒜 here"


def test_v62_invalid_scalars_and_short_tails():
    """Out-of-range scalars and surrogate code points decode U+FFFD; a
    1-3 byte tail falls back to identity chars (the v31 odd-byte rule)."""
    assert _texts(_pdfu54(
        "UniGB-UTF32-H",
        "BT /FU 12 Tf 100 700 Td <0000004100110000%s0000004241> Tj ET"
        % "0000D805",
    ))[0] == "A��BA"


def test_v62_vertical_utf32_columns():
    sp = _parity(_pdfu54(
        "UniKS-UTF32-V",
        f"BT /FU 12 Tf 300 700 Td <{_enc_u32('세로 🚀 글')}> Tj ET",
    ))
    assert sp[0][2] == "세로 🚀 글"
    b = sp[0][4]
    assert b[3] - b[1] > b[2] - b[0]


# ---------------------------------------------------------------------------
# Corpus sweeps and the truncation harness. Each corpus wave is one WAVES row:
# the seed window whose payloads must pass kernel == oracle parity under each
# of its configs, and the constructs its generator draw must emit, each
# counted over a band of seeds (the parity window unless a wider one is
# given — later waves shift the rng draw sequence, so a narrow window's count
# is not stable across corpus versions). Each CUTS row holds parity on every
# ``step``-th prefix of its documents, plus any whole garbage payloads.
# ---------------------------------------------------------------------------


def _has(*subs: str) -> Callable[[str], bool]:
    """Predicate: the document contains at least one of ``subs``."""
    return lambda doc: any(sub in doc for sub in subs)


def _id2(d: str) -> bool:
    """A bare Identity CID encoding, with no ToUnicode to take precedence."""
    return "/Identity-" in d and "/ToUnicode" not in d


class Fires(NamedTuple):
    construct: str  # a substring of the document, unless ``test`` is given
    at_least: int
    test: Optional[Callable[[str], object]] = None
    band: Optional[range] = None  # seeds counted; default the parity window


class Wave(NamedTuple):
    wave: str
    seeds: range
    fires: tuple = ()
    cfgs: tuple = (DEFAULT_CONFIG,)


_KEEP_ARTIFACT = ExtractConfig(keep_artifact_text=True)
_DROP_INVISIBLE = ExtractConfig(drop_invisible_text=True)

WAVES = (
    Wave("v13", range(400, 560), (Fires("/Differences", 10),)),
    Wave("v14", range(600, 760), (Fires("/Contents [", 12),)),
    Wave("v15", range(800, 960), (
        Fires("hoisted /Resources", 10,
              lambda d: "/Resources <<" in d.split("/Type /Page /Parent")[0]),
    )),
    Wave("v16", range(1000, 1800), (
        Fires("update section", 30, lambda d: d.count("%%EOF") >= 2),
        Fires("startxref", 100),
        Fires("single-section duplicate", 3,
              lambda d: d.count("%%EOF") == 1 and "revised" in d),
    )),
    Wave("v18", range(3000, 3800), (
        Fires("/WinAnsiEncoding", 40), Fires("/MacRomanEncoding", 10),
    )),
    Wave("v19", range(4000, 4800), (Fires("/CropBox", 50),)),
    Wave("v20", range(4800, 5600), (Fires(" cm", 60),)),
    Wave("v21", range(5600, 6400), (
        Fires("80 0 R", 30), Fires("multi-page", 150, _has("/Count 2", "/Count 3")),
    )),
    Wave("v22", range(6400, 7200), (Fires("/Type /XRef", 120),)),
    Wave("v23", range(7200, 8000), (
        Fires("octal escape", 80, re.compile(r"\\[0-7]{3}").search),
    )),
    Wave("v24", range(8000, 8400), (
        Fires("/Artifact", 40), Fires("/ActualText", 8),
    ), (DEFAULT_CONFIG, _KEEP_ARTIFACT)),
    Wave("v25", range(8800, 9400), (Fires("/Widths", 50),)),
    Wave("v27", range(10200, 11000), (
        Fires("/Annots", 30), Fires("hidden flag", 5, _has("/F 2", "/F 32")),
    )),
    Wave("v28", range(11000, 11800), (
        Fires("sticky note", 8, _has("/Subtype /Text ", "/Subtype /Text\n")),
        Fires("markup", 8, _has(*(f"/Subtype /{s}" for s in
                                  ("Highlight", "StrikeOut", "Underline", "Stamp")))),
        Fires("/Subtype /Popup", 4),
    )),
    # v61/v62 carved the UTF16/UTF32 flavors out of the id2 draw, so
    # bare-Identity counts in this window dropped from the original 30+
    Wave("v31", range(13400, 14200), (
        Fires("bare Identity", 22, _id2),
        Fires("Identity-H + ToUnicode", 20,
              lambda d: "/Identity-H" in d and "/ToUnicode" in d),
        Fires("D801>", 5),
    )),
    Wave("v33", range(15000, 15800), (
        Fires("/DescendantFonts", 30), Fires("/DescendantFonts 55 0 R", 3),
        Fires("/W trap", 3,
              _has("/junk 300]", "[80 60 444]", "[32 [300] 48]", "[32.5 126 444]")),
        Fires("/DW2", 2),
    )),
    Wave("v36", range(17400, 18200), (
        Fires("/OCProperties", 25), Fires("/OCProperties 59 0 R", 3),
        Fires("/OC /MD BDC", 3),
        Fires("/OC trap", 3, _has("/OC /Zq BDC", "/OC << /Type /OCG >> BDC", "/OC BMC")),
    )),
    Wave("v38", range(19000, 19800), (Fires(" Tw 72 ", 10),)),
    Wave("v40", range(20600, 21400), (
        Fires("UTF-8 BOM", 10, _has("EFBBBF", "\xef\xbb\xbf"), range(20600, 23800)),
    )),
    Wave("v43", range(23000, 23800), (
        Fires("/Type3", 6, band=range(23000, 25400)),
        Fires("7 Tr", 8, band=range(23000, 25400)),
    )),
    Wave("v45", range(24600, 25400), (
        Fires("inherited /V", 4, _has("inherited)", "rootval)"), range(24600, 27000)),
        Fires("/V /Off", 2, band=range(24600, 27000)),
    )),
    Wave("v47", range(26200, 27000), (
        Fires(" split\r\n", 6, band=range(26200, 28600)),
        Fires("conti\\", 4, band=range(26200, 28600)),
    )),
    Wave("v48", range(27000, 27800), (Fires("#3", 40), Fires("/Pa#67e", 20))),
    Wave("v49", range(27800, 28600), (Fires("/BBox", 40),)),
    Wave("v51", range(29400, 30200), (Fires(" re W", 20),)),
    Wave("v52", range(30200, 31000), (
        Fires("/ExtGState", 40),
    ), (DEFAULT_CONFIG, _DROP_INVISIBLE)),
    Wave("v53", range(31000, 31800), (
        Fires("/Identity-V", 8, band=range(31000, 33400)),
    )),
    Wave("v54", range(31800, 32600), (Fires("/Uni", 8, band=range(31800, 34200)),)),
    Wave("v56", range(33400, 34200), (
        Fires("core font", 10, _has("/BaseFont /Times-Roman", "/BaseFont /Courier"),
              range(33400, 35800)),
    )),
    # v59's extra end-of-doc rng draws shifted the truncation positions in
    # this window (the count was 8 before v59)
    Wave("v57", range(35800, 36600), (
        Fires("form alpha", 6, _has("formghost", "formnoop")),
    ), (DEFAULT_CONFIG, _DROP_INVISIBLE)),
    Wave("v59", range(37400, 38200), (Fires("/Filter /Standard", 25),)),
    Wave("v60", range(38200, 39000), (Fires("/W2 or /DW2", 15, _has("/W2", "/DW2")),)),
    Wave("v61", range(39000, 39800), (Fires("UTF16", 20),)),
    Wave("v62", range(39800, 40600), (Fires("UTF32", 15, band=range(39800, 41400)),)),
)


def _sweep(wave: Wave) -> None:
    for seed in wave.seeds:
        for cfg in wave.cfgs:
            _parity(_corpus_doc(seed), cfg, where=(wave.wave, seed, cfg))
    for f in wave.fires:
        test = f.test or (lambda doc: f.construct in doc)
        n = sum(1 for seed in f.band or wave.seeds if test(_corpus_doc(seed)))
        assert n >= f.at_least, (wave.wave, f.construct, n)


def _seed_docs(seeds: range, test, take: Optional[int] = 1, at_least: int = 1):
    """The first ``take`` corpus docs in ``seeds`` that pass ``test`` (all of
    them when ``take`` is None); fewer than ``at_least`` fails."""
    docs = list(itertools.islice(filter(test, map(_corpus_doc, seeds)), take))
    assert len(docs) >= at_least, (seeds, len(docs))
    return docs


class Cut(NamedTuple):
    name: str  # the test is test_<name>
    docs: Callable[[], list]
    step: int
    start: int = 0
    garbage: tuple = ()


CUTS = (
    Cut("malformed_never_raises", lambda: [_corpus_doc(7)], 7, garbage=(
        "%PDF-)(", "%PDF- stream", "%PDF-\n>>stream\nBT (x",
        "%PDF-\n>> stream\nBT [((a) Tj ET\nendstream",
    )),
    Cut("truncation_fuzz_filtered_payload", lambda: [_pdf(
        base64.a85encode(zlib.compress(OPS.encode("latin-1"))).decode() + "~>",
        sdict=" /Filter [/ASCII85Decode /FlateDecode]",
    )], 1, start=1),
    Cut("objstm_truncation_fuzz", lambda: [_objstm_doc(
        OBJSTM_INNER, f"BT /F9 12 Tf 72 700 Td <{_shift3('truncate the container')}> Tj ET",
        compress=True,
    )], 2, start=1),
    Cut("cmap_truncation_fuzz", lambda: [_pdf_cmap(
        f"BT /F9 12 Tf 72 700 Td <{_shift3('truncate me please')}> Tj ET", SHIFT3_CMAP,
    )], 1, start=1),
    Cut("truncation_fuzz_lzw_predictor_payload", lambda: [_pdf(
        _lzw_encode(_tiff_predict(_pad_to(OPS.encode("latin-1"), 16), 16)).hex().upper()
        + ">",
        sdict=" /Filter [/ASCIIHexDecode /LZWDecode]"
        " /DecodeParms [null << /Predictor 2 /Columns 16 >>]",
    )], 1, start=1),
    Cut("inline_image_truncation_fuzz",
        lambda: _seed_docs(range(40), _has("BI /"), take=None, at_least=5), 11),
    Cut("form_truncation_fuzz",
        lambda: _seed_docs(range(60), _has("/XObject"), take=8, at_least=5), 13),
    Cut("rotation_truncation_fuzz", lambda: _seed_docs(
        range(200), lambda d: "/Rotate" in d or d.count("/MediaBox") >= 2, take=8, at_least=5,
    ), 17),
    Cut("contents_array_truncation_fuzz",
        lambda: _seed_docs(range(200), _has("/Contents ["), take=2, at_least=2), 11),
    Cut("update_truncation_fuzz", lambda: [
        _v16_single(_V16_OLD, tail=_v16_xref_tail(4)) + "\n" + _stream(4, _V16_NEW)
        + _v16_xref_tail(4)
    ], 11),
    Cut("v20_truncation_fuzz", lambda: _seed_docs(
        range(4800, 6000), lambda d: " cm" in d and "(trap" not in d), 11),
    Cut("v21_truncation_fuzz", lambda: [_kids_pdf(
        "99 0 R 3 0 R 7 0 R",
        _pg(3, 5) + _pg(4, 6, parent=7)
        + "7 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 2 0 R] >>\nendobj\n",
        _st(6, "deep page line") + _st(5, "top page line"),
    )], 7),
    Cut("xref_stream_truncation_fuzz", lambda: [_xref_stream_doc()], 7),
    Cut("v24_truncation_fuzz_marked_content", lambda: _seed_docs(
        range(800), lambda d: "/Artifact" in d and "/ActualText" in d), 7),
    Cut("v25_truncation_fuzz_widths", lambda: _seed_docs(
        range(400), lambda d: "/Widths" in d and "/FirstChar" in d), 7),
    Cut("v27_truncation_fuzz_annots", lambda: _seed_docs(
        range(800), lambda d: "/Annots" in d and "/Subtype /Widget" in d), 7),
    Cut("v28_truncation_fuzz_popup", lambda: _seed_docs(
        range(2000), lambda d: "/Subtype /Popup" in d and "/Contents" in d), 7),
    # an identity-encoded payload with widths, else any identity-encoded one
    Cut("v31_truncation_fuzz_id2", lambda: _seed_docs(
        range(13400, 15000), lambda d: _id2(d) and "/Widths" in d, at_least=0,
    ) or _seed_docs(range(13400, 15000), _id2), 7),
    Cut("v33_truncation_fuzz_cidw", lambda: _seed_docs(
        range(15000, 16600), lambda d: "/DescendantFonts" in d and "/W [" in d), 7),
    Cut("v36_truncation_fuzz_oc", lambda: _seed_docs(
        range(17400, 19000), lambda d: "/OCProperties" in d and "/OC /WM BDC" in d), 7),
    Cut("v43_truncation_fuzz_type3", lambda: _seed_docs(
        range(23000, 24400), lambda d: "/Type3" in d and "/FontMatrix" in d), 7),
)


def _truncate(cut: Cut) -> None:
    for i, doc in enumerate(cut.docs()):
        for at in range(cut.start, len(doc), cut.step):
            _parity(doc[:at], where=(cut.name, i, at), kind=None)
    for garbage in cut.garbage:
        _parity(garbage, where=garbage, kind=None)


def _row_test(harness, row):
    def test():
        harness(row)
    return test


# One named test per row, so ``-k v59`` selects one wave and a failure names it.
for _wave in WAVES:
    globals()[f"test_{_wave.wave}_corpus_fuzz_parity"] = _row_test(_sweep, _wave)
for _cut in CUTS:
    globals()[f"test_{_cut.name}"] = _row_test(_truncate, _cut)
