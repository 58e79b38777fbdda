"""Pure-Python single-threaded golden oracle (FIXTURES.md §3).

A second, independent implementation of the extraction SPEC (docs/SPEC.md):
same rules, deliberately different control flow from ``kernel.py`` — this is
the analog of the reference's golden-output regression files
(/root/reference/test_tipc/compare_results.py:10-16,58-80): tests assert the
Spark engine's per-turn output equals this oracle's, byte for byte.

The three token regexes are the *payload format spec* (shared literals, not
shared code); everything around them — segmentation state, scoring, ordering,
assembly — is re-derived from the SPEC independently.
"""

from __future__ import annotations

import bisect as _bisect
import hashlib
import html as _html
import re

from .config import ExtractConfig, DEFAULT_CONFIG

# --- payload format spec (identical literals to the engine, by definition) ---
# v17: quote-aware tag tokens (a quoted attribute value may contain '>');
# unterminated quote falls back to the first-'>' rule — same literals as the
# engine, by definition
TOKEN_RE = re.compile(
    r"<!--.*?-->|<!--.*|<[^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*>"
    r"|<[^>]*>|[^<]+", re.DOTALL
)
TAG_NAME_RE = re.compile(r"^<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)")
CLASS_RE = re.compile(
    r"""class\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.IGNORECASE
)


def _class_val(m) -> str:
    a, b, c = m.groups()
    return a if a is not None else (b if b is not None else c)
HTML_SNIFF_RE = re.compile(
    r"<\s*(?:!doctype|html|head|body|div|p|br|nav|article|main|section|header"
    r"|footer|aside|table|ul|ol|li|h[1-6]|span|a|b|i|em|strong|pre|code|title)\b",
    re.IGNORECASE,
)

_BLOCK = set(
    "p div h1 h2 h3 h4 h5 h6 li tr pre blockquote article section main nav "
    "header footer aside ul ol table title br hr td th "
    "details summary dialog "  # v34
    "dl dt dd figure figcaption address fieldset legend form hgroup "
    "menu dir center search "  # v41: UA display:block set
    "listing xmp plaintext".split()  # v42: legacy pre blocks
)
_VOID = set("br hr img input meta link source wbr area base col embed".split())
_TBL_STRUCT = set("table tr td th thead tbody tfoot caption".split())  # v44
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _decode(s: str) -> str:
    return _html.unescape(s).replace("\xa0", " ")


def oracle_sniff(text) -> str:
    if text is None:
        return "plain"
    s = text.lstrip()
    if s.startswith("PDFLIKE v1"):
        return "pdf"
    if s.startswith("%PDF-"):
        return "pdf_real"
    return "html" if HTML_SNIFF_RE.search(text[:4096]) else "plain"


# v26: non-rendered subtrees (independent literal; content-equality with
# the kernel's SKIP_TAGS asserted by test)
_ORACLE_SKIP = frozenset({
    "script", "style", "select", "datalist", "textarea", "iframe",
    "noscript", "noframes", "noembed", "template",
})

# v29: hidden-element detection mirror (SPEC §2.2) — a regex-step attr
# walk (vs the kernel's char scanner) over the lowercased tag token, and
# a regex closed form of the kernel's declaration-split style rule.
_O_HWS = " \t\n\r\x0c"  # the HTML5 whitespace set (pinned; NOT \s)
_O_ATTR_RE = re.compile(
    r"([^ \t\n\r\x0c>/=\"']+)"  # attribute name
    r"(?:[ \t\n\r\x0c]*=[ \t\n\r\x0c]*"
    r"(?:\"([^\"]*)\"?|'([^']*)'?|([^ \t\n\r\x0c>]*)))?"  # optional value
)
_O_STYLE_HIDDEN_RE = re.compile(
    r"(?:^|;)\s*(?:display\s*:\s*none|visibility\s*:\s*hidden)"
    r"\s*(?:!\s*important\s*)?\s*(?:;|$)"
)


# v30: invisible format characters (SPEC §2.3) — independent literal;
# content equality with the kernel's regex class asserted by test.
# ZWNJ U+200C / ZWJ U+200D deliberately absent (kept in text).
_O_INVIS = frozenset({
    "\u00ad",  # soft hyphen
    "\u200b",  # zero-width space
    "\u200e",  # left-to-right mark
    "\u200f",  # right-to-left mark
    "\u2060",  # word joiner
    "\ufeff",  # zero-width no-break space / BOM
})


def _o_strip_invis(s: str) -> str:
    if _O_INVIS.isdisjoint(s):
        return s
    return "".join(c for c in s if c not in _O_INVIS)


def _o_hidden_tag(low: str) -> bool:
    m = TAG_NAME_RE.match(low)
    if m is None:
        return False
    i, n = m.end(), len(low)
    while i < n:
        c = low[i]
        if c in _O_HWS or c == "/":
            i += 1
            continue
        if c == ">":
            return False
        am = _O_ATTR_RE.match(low, i)
        if am is None or am.end() == i:  # junk char where a name starts
            i += 1
            continue
        name = am.group(1)
        if name == "hidden" or name == "popover":  # v55
            return True
        if name == "style":
            val = next((g for g in am.groups()[1:] if g is not None), None)
            if val and _O_STYLE_HIDDEN_RE.search(val):
                return True
        i = am.end()
    return False


def _o_open_tag(low: str) -> bool:
    """v34 mirror: token-exact boolean `open` attribute (any or no value
    — `open="false"` is OPEN) via the regex-step attr walk."""
    m = TAG_NAME_RE.match(low)
    if m is None:
        return False
    i, n = m.end(), len(low)
    while i < n:
        c = low[i]
        if c in _O_HWS or c == "/":
            i += 1
            continue
        if c == ">":
            return False
        am = _O_ATTR_RE.match(low, i)
        if am is None or am.end() == i:
            i += 1
            continue
        if am.group(1) == "open":
            return True
        i = am.end()
    return False


def _o_shadowroot_tag(low: str) -> bool:
    """v50 mirror: attribute named `shadowrootmode` with value exactly
    open/closed (the streaming-parser rule); valueless never matches."""
    m = TAG_NAME_RE.match(low)
    if m is None:
        return False
    i, n = m.end(), len(low)
    while i < n:
        c = low[i]
        if c in _O_HWS or c == "/":
            i += 1
            continue
        if c == ">":
            return False
        am = _O_ATTR_RE.match(low, i)
        if am is None or am.end() == i:
            i += 1
            continue
        if am.group(1) == "shadowrootmode":
            val = next((g for g in am.groups()[1:] if g is not None), None)
            if val in ("open", "closed"):
                return True
        i = am.end()
    return False


# v58: document-stylesheet hiding mirror (SPEC §2.2 Stylesheet hiding) —
# independent derivation: one DOTALL regex extracts lowercase <style>
# regions (unterminated → EOF), brace EVENTS walk the rule nesting, and
# the inline-style regex (_O_STYLE_HIDDEN_RE, already gate-tested equal
# to the kernel's declaration-split rule) decides whether a body hides.
# Scope pins mirror the kernel: top-level rules only (@-rule bodies out),
# selectors that are exactly one simple .class / #id.
_O_STYLE_RE = re.compile(
    r"<style(?=[ \t\n\r\x0c/>])[^>]*>(.*?)(?:</style[ \t\n\r\x0c]*>|\Z)",
    re.DOTALL,
)
_O_CSS_COMMENT_RE = re.compile(r"/\*.*?\*/", re.DOTALL)
_O_SEL_RE = re.compile(r"\A[.#][A-Za-z_][-A-Za-z0-9_]*\Z")
_O_BRACE_RE = re.compile(r"[{}]")
_O_ID_RE = re.compile(
    r"""(?<![\w-])id\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""",
    re.IGNORECASE,
)


def _o_sheet_hidden(text: str):
    classes, ids = set(), set()
    for sm in _O_STYLE_RE.finditer(text):
        css = _O_CSS_COMMENT_RE.sub("", sm.group(1))
        d = 0
        last = 0
        sel = None
        body_at = 0
        for bm in _O_BRACE_RE.finditer(css):
            if bm.group(0) == "{":
                if d == 0:
                    sel, body_at = css[last : bm.start()], bm.end()
                d += 1
            else:
                if d > 0:
                    d -= 1
                    if d == 0 and sel is not None:
                        st = sel.strip()
                        if (
                            st
                            and not st.startswith("@")
                            and _O_STYLE_HIDDEN_RE.search(
                                css[body_at : bm.start()]
                            )
                        ):
                            for part in sel.split(","):
                                p = part.strip()
                                if _O_SEL_RE.match(p):
                                    (classes if p[0] == "." else ids).add(
                                        p[1:]
                                    )
                        sel = None
                last = bm.end()
    return classes, ids


def _o_sheet_hides_tag(tok: str, sheet_cls, sheet_ids) -> bool:
    """Open-tag token → hidden by a document stylesheet? (class list via
    CLASS_RE, id via _O_ID_RE — both first-match, values case-sensitive)."""
    if sheet_cls:
        cm = CLASS_RE.search(tok)
        if cm is not None and not sheet_cls.isdisjoint(_class_val(cm).split()):
            return True
    if sheet_ids:
        im = _O_ID_RE.search(tok)
        if im is not None:
            v = next((g for g in im.groups() if g is not None), None)
            if v in sheet_ids:
                return True
    return False


def _oracle_html(text: str, cfg: ExtractConfig):
    tokens = list(TOKEN_RE.finditer(text))
    # v58: stylesheet pre-scan — document-wide, position-independent
    if "<style" in text:
        _sheet_cls, _sheet_ids = _o_sheet_hidden(text)
    else:
        _sheet_cls, _sheet_ids = set(), set()
    # context state: stack of (name, flags-dict) + clamped depth counters (SPEC §2.2)
    stack = []
    depth = {
        "boiler": 0, "a": 0, "heading": 0, "pre": 0, "li": 0, "hid": 0,
        "cdet": 0, "vsum": 0,  # v34: open-gated <details>/<summary>
    }
    cdet_seen = []  # v34: consumed-first-summary bit per open closed details
    in_script = 0
    candidates = []  # dict: kind, pieces, link, boiler_hit
    blk = {"kind": None, "pieces": [], "link": 0, "boiler_hit": False}
    tbl = None  # {'depth', 'rows', 'cell', 'link', 'boiler'}

    def ctx_kind():
        if depth["heading"] > 0:
            return "title"
        if depth["pre"] > 0:
            return "code"
        if depth["li"] > 0:
            return "list"
        return "para"

    def end_block():
        if blk["kind"] == "code":
            # v32: verbatim whitespace for code blocks — CR→LF, outer strip
            joined = re.sub(
                r"\r\n?", "\n", "".join(blk["pieces"])
            ).strip()
        else:
            joined = _norm("".join(blk["pieces"]))
        if joined:
            link = min(blk["link"], len(joined))
            candidates.append(
                {
                    "kind": blk["kind"] or "para",
                    "text": joined,
                    "total": len(joined),
                    "link": link,
                    "boiler": blk["boiler_hit"],
                }
            )
        blk["kind"] = None
        blk["pieces"] = []
        blk["link"] = 0
        blk["boiler_hit"] = False

    def end_table():
        # v37: header rows first, footer rows last; caption = first line
        allr = tbl["secs"]["h"] + tbl["secs"]["b"] + tbl["secs"]["f"]
        rows = [" | ".join(r) for r in allr if r]
        cap = _norm("".join(tbl["cap"]))
        joined = "\n".join(([cap] if cap else []) + rows)
        if joined.strip() and not tbl["hide"]:
            candidates.append(
                {
                    "kind": "table",
                    "text": joined,
                    "total": sum(len(c) for r in allr for c in r) + len(cap),
                    "link": tbl["link"],
                    "boiler": tbl["boiler"],
                }
            )

    raw = None  # v42: rawtext state — xmp exits on a real close tag,
    # plaintext never exits; entities do NOT decode in rawtext
    svg = 0  # v46: foreign svg subtree — inline, every interior tag inert

    for m in tokens:
        tok = m.group(0)
        if raw is not None:
            if raw == "xmp" and tok[0] == "<" and tok[1] != "!":
                nm2 = TAG_NAME_RE.match(tok)
                if (
                    nm2 is not None
                    and nm2.group(1) == "/"
                    and nm2.group(2).lower() == "xmp"
                ):
                    raw = None  # fall through: close flushes and pops
            if raw is not None:
                if in_script or depth["hid"] > 0 or depth["cdet"] > depth["vsum"]:
                    continue
                piece = _o_strip_invis(tok)  # raw token, no entity decode
                if not piece:
                    continue
                if blk["kind"] is None and piece.strip():
                    blk["kind"] = ctx_kind()
                blk["pieces"].append(piece)
                if depth["a"] > 0:
                    blk["link"] += len(_norm(piece))
                if depth["boiler"] > 0 and piece.strip():
                    blk["boiler_hit"] = True
                continue
        if tok.startswith("<!--"):
            continue
        if tok[0] == "<":
            nm = TAG_NAME_RE.match(tok)
            if nm is None:
                continue
            closing, name = nm.group(1) == "/", nm.group(2).lower()
            selfclose = tok.rstrip().endswith("/>")

            if svg > 0:  # v46: interior tags inert, svg nesting counted
                if name == "svg":
                    if closing:
                        svg -= 1
                    elif not selfclose:
                        svg += 1
                continue

            if not closing and name in _ORACLE_SKIP and not selfclose:
                # v50: declarative shadow root renders (top level only;
                # inside a skip the open keeps the balance)
                if (
                    name == "template"
                    and in_script == 0
                    and "shadowrootmode" in tok.lower()
                    and _o_shadowroot_tag(tok.lower())
                ):
                    end_block()
                    continue
                in_script += 1
                end_block()
                continue
            if closing and name in _ORACLE_SKIP:
                in_script = max(0, in_script - 1)
                end_block()
                continue
            if in_script:
                continue

            if name == "svg":  # v46: inline entry (no end_block), works
                if not closing and not selfclose:  # in table mode too
                    svg = 1
                continue

            if tbl is not None:
                # inside a table only table/tr/td/th/a tags matter; 'a' is
                # tracked by counter only (no stack push) per SPEC §2.3
                # v44: a non-structure block tag dividing cell/caption
                # text injects a separator (the innerText newline; the
                # cell collapse renders it as one space)
                if name in _BLOCK and name not in _TBL_STRUCT:
                    if tbl["cell"] is not None:
                        tbl["cell"].append("\n")
                    elif tbl["incap"]:
                        tbl["cap"].append("\n")
                if not closing:
                    if name == "table":
                        tbl["depth"] += 1
                    elif name == "tr":
                        tbl["incap"] = False  # v37: implicit caption end
                        tbl["secs"][tbl["sec"]].append([])
                    elif name in ("td", "th") and not selfclose:
                        tbl["incap"] = False
                        tbl["cell"] = []
                        if not tbl["secs"][tbl["sec"]]:
                            tbl["secs"][tbl["sec"]].append([])
                    elif name == "a":
                        depth["a"] += 1
                    elif name == "thead":  # v37: FIRST thead = header group
                        tbl["incap"] = False
                        tbl["sec"] = "b" if tbl["sh"] else "h"
                        tbl["sh"] = True
                    elif name == "tfoot":
                        tbl["incap"] = False
                        tbl["sec"] = "b" if tbl["sf"] else "f"
                        tbl["sf"] = True
                    elif name == "tbody":
                        tbl["incap"] = False
                        tbl["sec"] = "b"
                    elif name == "caption":
                        tbl["incap"] = True
                else:
                    if name == "table":
                        tbl["depth"] -= 1
                        if tbl["depth"] == 0:
                            end_table()
                            tbl = None
                    elif name in ("td", "th") and tbl["cell"] is not None:
                        rows = tbl["secs"][tbl["sec"]]
                        if not rows:  # section switched mid-cell
                            rows.append([])
                        rows[-1].append(_norm("".join(tbl["cell"])))
                        tbl["cell"] = None
                    elif name == "a" and depth["a"] > 0:
                        depth["a"] -= 1
                    elif name in ("thead", "tbody", "tfoot"):
                        tbl["sec"] = "b"  # v37: back to the implicit tbody
                    elif name == "caption":
                        tbl["incap"] = False
                continue

            if not closing and name == "table" and not selfclose:
                end_block()
                low = tok.lower()
                tbl = {
                    "depth": 1,
                    "secs": {"h": [], "b": [], "f": []},  # v37 row groups
                    "sec": "b",
                    "sh": False,
                    "sf": False,
                    "cap": [],
                    "incap": False,
                    "cell": None,
                    "link": 0,
                    "boiler": depth["boiler"] > 0,
                    # v29: a hidden <table> renders nothing (interior
                    # table tags: pinned no-op)
                    "hide": (
                        (
                            "hidden" in low
                            or "popover" in low  # v55
                            or ("style" in low and "none" in low)
                        )
                        and _o_hidden_tag(low)
                    )
                    or _o_sheet_hides_tag(tok, _sheet_cls, _sheet_ids),
                }
                continue

            if name in _BLOCK:
                end_block()

            if not closing:
                if name in _VOID or selfclose:
                    continue
                cm = CLASS_RE.search(tok)
                low = tok.lower()
                hid = (
                    (
                        "hidden" in low
                        or "popover" in low  # v55
                        or ("style" in low and "none" in low)
                    )
                    and _o_hidden_tag(low)
                ) or _o_sheet_hides_tag(tok, _sheet_cls, _sheet_ids)
                # v34: a closed <dialog> hides like a hidden element; a
                # closed <details> opens a cdet level; a <summary> whose
                # immediate parent is a closed details with an unconsumed
                # first-summary bit is the visible disclosure widget
                if name == "dialog" and not _o_open_tag(low):
                    hid = True
                elif name == "rp" or name in (
                    "audio", "video", "canvas",
                    "annotation",  # v46: MathML annotation/annotation-xml
                ):  # v35: ruby parens; v39: media fallback never renders
                    hid = True
                cdet = name == "details" and not _o_open_tag(low)
                vsum = False
                if (
                    name == "summary"
                    and stack
                    and stack[-1][1]["cdet"]
                    and not cdet_seen[-1]
                ):
                    cdet_seen[-1] = True
                    vsum = True
                flags = {
                    "boiler": name in cfg.boiler_tags
                    or bool(cm and cfg.boiler_class in _class_val(cm).split()),
                    "a": name == "a",
                    "heading": name in _HEADINGS,
                    "pre": name in (
                        "pre", "code", "listing", "xmp", "plaintext",
                    ),  # v42: legacy white-space:pre blocks
                    "li": name == "li",
                    "hid": hid,
                    "cdet": cdet,
                    "vsum": vsum,
                }
                stack.append((name, flags))
                for k, v in flags.items():
                    depth[k] += int(v)
                if cdet:
                    cdet_seen.append(False)
                if name in ("xmp", "plaintext"):
                    raw = name  # v42 (self-closing forms skipped above)
            else:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][0] == name:
                        for _, fl in stack[i:]:
                            for k, v in fl.items():
                                if v:
                                    depth[k] = max(0, depth[k] - 1)
                            if fl["cdet"] and cdet_seen:  # v34
                                cdet_seen.pop()
                        del stack[i:]
                        break
            continue

        # text token
        if (
            in_script
            or svg > 0
            or depth["hid"] > 0
            or depth["cdet"] > depth["vsum"]
        ):
            continue
        piece = _o_strip_invis(_decode(tok))  # v30: strip after decode
        if not piece:  # v30: strips to nothing → contributes nothing
            continue
        if tbl is not None:
            if tbl["cell"] is not None:
                tbl["cell"].append(piece)
                if depth["a"] > 0:
                    tbl["link"] += len(_norm(piece))
            elif tbl["incap"]:  # v37: caption text collects
                tbl["cap"].append(piece)
                if depth["a"] > 0:
                    tbl["link"] += len(_norm(piece))
            continue
        if blk["kind"] is None and piece.strip():
            blk["kind"] = ctx_kind()
        blk["pieces"].append(piece)
        if depth["a"] > 0:
            blk["link"] += len(_norm(piece))
        if depth["boiler"] > 0 and piece.strip():
            blk["boiler_hit"] = True

    end_block()
    if tbl is not None:
        end_table()

    spans, dropped = [], 0
    for c in candidates[: cfg.max_candidates]:
        if c["boiler"] or c["total"] < cfg.min_chars or 2 * c["link"] > c["total"]:
            dropped += 1
            continue
        spans.append((c["kind"], c["text"], 1.0 - c["link"] / c["total"], None))
    return spans, dropped


def _oracle_xycut(boxes, cfg: ExtractConfig):
    """Sequential re-derivation of XY-cut (table_ops.py:35-138 semantics)."""
    if len(boxes) <= 1:
        return list(boxes)
    for lo, hi in ((0, 2), (1, 3)):  # x first (columns), then y (rows)
        srt = sorted(boxes, key=lambda b: (b[lo], b[hi], b[4]))
        groups, cur, reach = [], [], None
        for b in srt:
            if reach is not None and b[lo] >= reach + cfg.xy_min_gap:
                groups.append(cur)
                cur = []
                reach = None
            cur.append(b)
            reach = b[hi] if reach is None else max(reach, b[hi])
        groups.append(cur)
        if len(groups) > 1:
            out = []
            for grp in groups:
                out.extend(_oracle_xycut(grp, cfg))
            return out
    return sorted(boxes, key=lambda b: (b[1] // cfg.y_band, b[0], b[4]))


def _oracle_layout_walk(boxes, page_w):
    """Closed form of the sorted_layout_boxes walk (recovery_to_doc.py:87-155),
    derived independently of the sequential implementation: in (y0, x0, idx)
    scan order, classify each box left/right/single (final box under its own
    rules); the emission order is then exactly
    ``ORDER BY (#singles strictly before, class-rank left<right<single,
    scan-rank)`` — singles delimit segments, and within a segment all lefts
    precede all rights. Fuzz-verified equivalent to the stateful walk in
    tests/test_layout_walk.py."""
    n = len(boxes)
    if n == 0:
        return []
    srt = sorted(boxes, key=lambda b: (b[1], b[0], b[4]))
    if n == 1:
        return list(srt)
    half, quarter, three_q = page_w / 2, page_w / 4, 3 * page_w / 4
    keyed = []
    seg = 0
    rank_of = {"left": 0, "right": 1, "single": 2}
    for s_rank, b in enumerate(srt):
        x0, y0, x1 = b[0], b[1], b[2]
        if s_rank == n - 1:
            prev = srt[s_rank - 1]
            if y0 > prev[3] and x0 < half and x1 > half:
                cls = "single"
            elif x1 > half:
                cls = "right"
            elif x0 < half:
                cls = "left"
            else:
                continue  # degenerate box: dropped by the walk too
        elif x0 < quarter and x1 < three_q:
            cls = "left"
        elif x0 > quarter and x1 > half:
            cls = "right"
        else:
            cls = "single"
        keyed.append(((seg, rank_of[cls], s_rank), b))
        if cls == "single":
            seg += 1
    keyed.sort(key=lambda t: t[0])
    return [b for _, b in keyed]


def _oracle_pdf(text: str, cfg: ExtractConfig):
    pages, dropped = {}, 0
    for i, line in enumerate(text.split("\n")[1:]):
        if not line.strip():
            continue
        bits = line.split("|", 2)
        if len(bits) != 3:
            continue
        try:
            page = int(bits[0].strip())
            xy = [int(v.strip()) for v in bits[1].split(",")]
        except ValueError:
            continue
        if len(xy) != 4:
            continue
        x0, y0, x1, y1 = xy
        if y1 <= cfg.header_y or y0 >= cfg.footer_y:
            dropped += 1
            continue
        pages.setdefault(page, []).append((x0, y0, x1, y1, i, bits[2]))

    spans = []
    for p in sorted(pages):
        if cfg.layout_mode == "walk":
            ordered = _oracle_layout_walk(pages[p], cfg.page_w)
        else:
            ordered = _oracle_xycut(pages[p], cfg)
        if cfg.merge_paragraphs:
            ordered = _oracle_para_merge(ordered, cfg)
        for x0, y0, x1, y1, i, t in ordered:
            clean = _norm(t)
            if len(clean) < cfg.min_chars:
                if clean:
                    dropped += 1
                continue
            spans.append(("para", clean, 1.0, [x0, y0, x1, y1]))
    return spans, dropped


def _oracle_para_merge(ordered, cfg: ExtractConfig):
    """Paragraph grouping (SPEC: merge_paragraphs) — independent re-derivation:
    compute a per-line break flag, then fold groups. A line breaks (starts a
    new paragraph) unless it x-overlaps the running union, sits 0..para_gap
    below the previous line, is not indented beyond indent_tol relative to
    the group's first line, and the previous line is no more than trail_tol
    short of its right edge."""
    groups = []
    for line in ordered:
        joins = False
        if groups:
            g = groups[-1]
            first, prev = g[0], g[-1]
            u0, u1 = min(b[0] for b in g), max(b[2] for b in g)
            joins = (
                max(u0, line[0]) < min(u1, line[2])
                and 0 <= line[1] - prev[3] <= cfg.para_gap
                and line[0] - first[0] <= cfg.indent_tol
                and prev[2] >= line[2] - cfg.trail_tol
            )
        if joins:
            groups[-1].append(line)
        else:
            groups.append([line])
    out = []
    for g in groups:
        if len(g) == 1:
            out.append(g[0])
        else:
            out.append(
                (
                    min(b[0] for b in g),
                    min(b[1] for b in g),
                    max(b[2] for b in g),
                    max(b[3] for b in g),
                    g[0][4],
                    " ".join(b[5] for b in g),
                )
            )
    return out


# --- real-PDF path (SPEC §3b) — independent re-derivation -------------------
# The kernel (functions/realpdf.py) interprets content streams with a
# single-pass hand-rolled character scanner; the oracle tokenizes the whole
# stream into a token list with regex chunking FIRST, then interprets the
# list — two passes, different string decoding, same contract.

RPDF_MEDIABOX_RE = re.compile(  # format-spec literal (shared by definition)
    r"/MediaBox\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]"
)
_RPDF_STREAM_RE = re.compile(r"stream\r?\n")
_RPDF_NUM_RE = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)\Z")
_RPDF_RUN_RE = re.compile(r"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_RPDF_STRCHUNK_RE = re.compile(
    r"\\([0-7]{1,3}|\r\n?|\n|.)|([()])|([^\\()]+)", re.DOTALL
)  # v47: \CR and \CRLF are continuations like \LF (ISO §7.3.4.2)
_RPDF_HEXBODY_RE = re.compile(r"[^>]*")
_RPDF_ESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\x08", "f": "\x0c"}
_RPDF_NAMEHEX_RE = re.compile(r"#([0-9a-fA-F]{2})")


def _rpdf_name_unescape(nm: str) -> str:
    """#XX hex escapes decode to their byte (ISO 32000 §7.3.5, v48) —
    kernel _name_unescape mirror; an invalid ``#`` run stays literal."""
    if "#" not in nm:
        return nm
    return _RPDF_NAMEHEX_RE.sub(lambda m: chr(int(m.group(1), 16)), nm)
_RPDF_WS = "\x00\t\n\x0c\r "
# /Filter value matched AT the first occurrence (same anchor the kernel
# scans from): one name or a whitespace-separated name array
_RPDF_FILTER_RE = re.compile(
    r"/Filter[\x00\t\n\x0c\r ]*"
    r"(?:/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    r"|\[((?:[\x00\t\n\x0c\r ]*/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)*)"
    r"[\x00\t\n\x0c\r ]*\])"
)
_RPDF_HEXOK_RE = re.compile(r"[0-9a-fA-F]*\Z")


# /DecodeParms known keys: name token must END at the key (delimiter/ws/EOS
# follows — `/PredictorX` is a different name), value is the next token run
# and must be an integer-valued number
_RPDF_PARMKEY_RE = re.compile(
    r"/(Predictor|Columns|Colors|BitsPerComponent|EarlyChange)"
    r"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])[\x00\t\n\x0c\r ]*"
    r"([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
)
_RPDF_WSRUN_RE = re.compile(r"[\x00\t\n\x0c\r ]*")


def _rpdf_dict_span(params: str, i: int):
    """``<< ... >>`` starting at ``i`` → (inner text, index after close), or
    (None, -1) when unbalanced. Regex token stream + depth counter (the
    kernel walks chars)."""
    depth = 0
    for tm in re.finditer(r"<<|>>", params[i:]):
        if tm.group() == "<<":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                j = i + tm.end()
                return params[i + 2 : j - 2], j
    return None, -1


def _rpdf_dict_numbers(inner: str):
    """Known numeric keys from a dict body (last occurrence wins); None when
    a known key's value is not an integer-valued number."""
    out = {}
    for m in _RPDF_PARMKEY_RE.finditer(inner):
        tok = m.group(2)
        if not _RPDF_NUM_RE.match(tok):
            return None
        v = float(tok)
        if v != int(v):
            return None
        out[m.group(1)] = int(v)
    return out


def _rpdf_decode_parms(params: str, n_filters: int):
    """Mirror of the kernel's /DecodeParms rule (SPEC §3b v5): value at the
    first occurrence is null / one dict (→ last filter) / an array of
    null|dict entries mapped positionally. None → malformed → skip."""
    k = params.find("/DecodeParms")
    if k < 0:
        return [None] * n_filters
    i = k + len("/DecodeParms")
    i += _RPDF_WSRUN_RE.match(params, i).end() - i
    if params.startswith("null", i):
        return [None] * n_filters
    if params[i : i + 2] == "<<":
        inner, _ = _rpdf_dict_span(params, i)
        if inner is None:
            return None
        d = _rpdf_dict_numbers(inner)
        if d is None:
            return None
        parms = [None] * n_filters
        if n_filters:
            parms[-1] = d
        return parms
    if params[i : i + 1] != "[":
        return None
    i += 1
    entries = []
    n = len(params)
    while i < n:
        i += _RPDF_WSRUN_RE.match(params, i).end() - i
        if i >= n:
            break
        if params[i] == "]":
            entries += [None] * max(0, n_filters - len(entries))
            return entries[:n_filters]
        if params.startswith("null", i):
            entries.append(None)
            i += 4
        elif params[i : i + 2] == "<<":
            inner, j = _rpdf_dict_span(params, i)
            if inner is None:
                return None
            d = _rpdf_dict_numbers(inner)
            if d is None:
                return None
            entries.append(d)
            i = j
        else:
            return None
    return None  # unterminated array


def _rpdf_pred_params(p):
    """(predictor, colors, columns, early) validated, or None → skip."""
    p = p or {}
    pred = p.get("Predictor", 1)
    colors = p.get("Colors", 1)
    columns = p.get("Columns", 1)
    bpc = p.get("BitsPerComponent", 8)
    early = p.get("EarlyChange", 1)
    if pred not in (1, 2, 10, 11, 12, 13, 14, 15) or early not in (0, 1):
        return None
    if pred != 1 and (bpc != 8 or not 1 <= colors <= 8 or columns < 1):
        return None
    return pred, colors, columns, early


def _rpdf_lzw(data: bytes, early: int):
    """Oracle LZW (ISO 32000 §7.4.4) — random-access bit reader (each code
    is cut from the 3-byte window at its bit offset) and a dict code table
    (the kernel streams a byte accumulator over a list). EOD required;
    out-of-table code (non-KwKwK) → None."""
    total = len(data) * 8
    pos = 0
    width = 9
    table = {c: bytes([c]) for c in range(256)}
    nxt = 258
    prev = b""
    chunks = []
    while True:
        if pos + width > total:
            return None
        win = int.from_bytes(data[pos >> 3 : (pos >> 3) + 3].ljust(3, b"\0"), "big")
        code = (win >> (24 - (pos & 7) - width)) & ((1 << width) - 1)
        pos += width
        if code == 257:
            return b"".join(chunks)
        if code == 256:
            table = {c: bytes([c]) for c in range(256)}
            nxt, width, prev = 258, 9, b""
            continue
        if code in table:
            cur = table[code]
        elif code == nxt and prev:
            cur = prev + prev[:1]
        else:
            return None
        chunks.append(cur)
        if prev and nxt < 4096:
            table[nxt] = prev + cur[:1]
            nxt += 1
            if width < 12 and nxt == (1 << width) - early:
                width += 1
        prev = cur


def _rpdf_rle(data: bytes):
    """Oracle RunLengthDecode (ISO 32000 §7.4.5); EOD (128) required."""
    pieces = []
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            return b"".join(pieces)
        if ln < 128:
            chunk = data[i + 1 : i + ln + 2]
            if len(chunk) != ln + 1:
                return None
            pieces.append(chunk)
            i += ln + 2
        else:
            if i + 1 >= n:
                return None
            pieces.append(data[i + 1 : i + 2] * (257 - ln))
            i += 2
    return None


def _rpdf_unpredict(data: bytes, pred: int, colors: int, columns: int):
    """Oracle /Predictor reversal (row-list style; the kernel mutates a
    flat bytearray in place)."""
    if pred == 1:
        return data
    bpp, rowlen = colors, colors * columns
    if pred == 2:
        if len(data) % rowlen:
            return None
        rows = [bytearray(data[r : r + rowlen]) for r in range(0, len(data), rowlen)]
        for row in rows:
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        return b"".join(map(bytes, rows))
    step = rowlen + 1
    if len(data) % step:
        return None
    prior = [0] * rowlen
    decoded = []
    for r in range(0, len(data), step):
        ft, raw = data[r], data[r + 1 : r + step]
        if ft > 4:
            return None
        rec = [0] * rowlen
        for i in range(rowlen):
            a = rec[i - bpp] if i >= bpp else 0
            b = prior[i]
            c = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                pr = 0
            elif ft == 1:
                pr = a
            elif ft == 2:
                pr = b
            elif ft == 3:
                pr = (a + b) >> 1
            else:
                p = a + b - c
                pr = min((abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c))[2]
            rec[i] = (raw[i] + pr) & 0xFF
        decoded.append(bytes(rec))
        prior = rec
    return b"".join(decoded)


def _rpdf_decode_stream(body: str, params: str):
    """Oracle mirror of SPEC §3b Filters v5 via stdlib codecs where they
    exist (hex/a85/flate) and independent re-derivations where they don't
    (LZW, RunLength, predictors): returns decoded content, or None → skip."""
    import base64
    import zlib as _z

    m = _RPDF_FILTER_RE.match(params, params.find("/Filter"))
    if m is None:
        return None
    names = [m.group(1)] if m.group(1) is not None else re.findall(
        r"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)", m.group(2)
    )
    parms = _rpdf_decode_parms(params, len(names))
    if parms is None:
        return None
    try:
        data = body.encode("latin-1")
    except UnicodeEncodeError:
        return None
    ws_del = bytes(_RPDF_WS, "latin-1")
    for nm, pm in zip(names, parms):
        try:
            if nm == "ASCIIHexDecode":
                k = data.find(b">")
                hexpart = (data[:k] if k >= 0 else data).translate(
                    None, ws_del
                ).decode("latin-1")
                if not _RPDF_HEXOK_RE.match(hexpart):
                    return None
                if len(hexpart) % 2:
                    hexpart += "0"
                data = bytes.fromhex(hexpart)
            elif nm == "ASCII85Decode":
                k = data.find(b"~>")
                part = (data[:k] if k >= 0 else data).translate(None, ws_del)
                data = base64.a85decode(part, ignorechars=b"")
            elif nm == "RunLengthDecode":
                data = _rpdf_rle(data)
            elif nm in ("FlateDecode", "LZWDecode"):
                pp = _rpdf_pred_params(pm)
                if pp is None:
                    return None
                pred, colors, columns, early = pp
                data = (
                    _z.decompress(data)
                    if nm == "FlateDecode"
                    else _rpdf_lzw(data, early)
                )
                if data is not None and pred != 1:
                    data = _rpdf_unpredict(data, pred, colors, columns)
            else:
                return None
        except (ValueError, _z.error):
            return None
        if data is None:
            return None
    return data.decode("latin-1")


# --- fonts & ToUnicode CMaps (SPEC §3b Fonts, v6) — oracle mirror -----------
# regex-driven re-derivations of the kernel's char scanners: object headers
# and refs are matched with compiled patterns, UTF-16BE is decoded manually
# (surrogate combine) where the kernel uses the stdlib codec.

_RPDF_NAMEEND = r"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
_RPDF_OBJ_RE = re.compile(
    r"(\d+)[\x00\t\n\x0c\r ]+0[\x00\t\n\x0c\r ]+obj" + _RPDF_NAMEEND
)
_RPDF_REFVAL_RE = re.compile(
    r"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+0[\x00\t\n\x0c\r ]+R" + _RPDF_NAMEEND
)
_RPDF_HEXTOK_RE = re.compile(
    r"[\x00\t\n\x0c\r ]*<([0-9a-fA-F\x00\t\n\x0c\r ]*)>"
)
_RPDF_FONTENT_RE = re.compile(
    r"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    r"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+0[\x00\t\n\x0c\r ]+R"
    + _RPDF_NAMEEND
)
_RPDF_TYPEPAGE_RE = re.compile(
    r"/Type[\x00\t\n\x0c\r ]*/Page" + _RPDF_NAMEEND
)
_RPDF_STREAMKW_RE = re.compile(r"stream\r?\n")


def _rpdf_object_map(text: str):
    """Sequential ``N 0 obj ... endobj`` consume (matches inside a previous
    object's extent are body text); LAST definition of a number wins."""
    objs, intervals = {}, []
    min_pos = 0
    n = len(text)
    for m in _RPDF_OBJ_RE.finditer(text):
        if m.start() < min_pos:
            continue
        b0 = m.end()
        end = text.find("endobj", b0)
        num = int(m.group(1))
        if end < 0:
            objs[num] = (b0, n)
            intervals.append((b0, n, num))
            break
        objs[num] = (b0, end)
        intervals.append((b0, end, num))
        min_pos = end + len("endobj")
    return objs, intervals


def _rpdf_key_ref(body: str, key: str):
    """``/Key N 0 R`` anchored at the FIRST literal key occurrence only."""
    k = body.find(key)
    if k < 0:
        return None
    m = _RPDF_REFVAL_RE.match(body, k + len(key))
    return int(m.group(1)) if m else None


_RPDF_INTVAL_RE = re.compile(
    r"[\x00\t\n\x0c\r ]*(\d+)" + _RPDF_NAMEEND
)
_RPDF_HDRTOK_RE = re.compile(r"[^\x00\t\n\x0c\r ]+")


def _rpdf_key_int(body: str, key: str):
    """``/Key N`` (plain integer) at the first literal key occurrence."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return None
    m = _RPDF_INTVAL_RE.match(body, after)
    # the kernel requires ≥0 ws before the digits only when they don't
    # directly follow a delimiter-terminated key — ws* matches both
    return int(m.group(1)) if m else None


_RPDF_TYPEVAL_RE = re.compile(
    r"/Type[\x00\t\n\x0c\r ]*/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
)


def _rpdf_first_type_is(body: str, name: str) -> bool:
    k = body.find("/Type")
    if k < 0:
        return False
    m = _RPDF_TYPEVAL_RE.match(body, k)
    return bool(m) and _rpdf_name_unescape(m.group(1)) == name  # v48


def _rpdf_objstm_bodies(text: str, objs: dict):
    """Mirror of the kernel ObjStm rule (SPEC §3b Fonts): containers in
    ascending document position; header = up to 2N integer tokens within
    the first /First chars; bodies sliced between consecutive offsets."""
    out = {}
    for num in sorted(objs, key=lambda m: objs[m][0]):
        span = objs[num]
        body = text[span[0] : span[1]]
        if "/ObjStm" not in body or not _rpdf_first_type_is(body, "ObjStm"):
            continue
        m = _RPDF_STREAMKW_RE.search(body)
        if not m:
            continue
        end = body.find("endstream", m.end())
        if end < 0:
            continue
        content = body[m.end() : end]
        params = body[: m.start()]
        if "/Filter" in params:
            content = _rpdf_decode_stream(content, params)
            if content is None:
                continue
        n_objs = _rpdf_key_int(params, "/N")
        first = _rpdf_key_int(params, "/First")
        if n_objs is None or first is None or first > len(content):
            continue
        nums = []
        for tm in _RPDF_HDRTOK_RE.finditer(content[:first]):
            if len(nums) >= 2 * n_objs or not tm.group().isdigit():
                break
            nums.append(int(tm.group()))
        pairs = [(nums[i], nums[i + 1]) for i in range(0, len(nums) - 1, 2)]
        for idx, (onum, off) in enumerate(pairs):
            nxt = pairs[idx + 1][1] if idx + 1 < len(pairs) else len(content) - first
            out[onum] = content[first + off : first + nxt]
    return out


def _rpdf_obj_body(text: str, objs: dict, vobjs: dict, num):
    if num in vobjs:
        return vobjs[num]
    if num in objs:
        return text[objs[num][0] : objs[num][1]]
    return None


def _rpdf_utf16(hexs: str):
    """Manual UTF-16BE: surrogate pairs combined, lone surrogates → None
    (the kernel's stdlib decode raises there — failure-for-failure)."""
    if len(hexs) % 4:
        return None
    units = [int(hexs[i : i + 4], 16) for i in range(0, len(hexs), 4)]
    out = []
    i = 0
    while i < len(units):
        u = units[i]
        if 0xD800 <= u <= 0xDBFF:
            if i + 1 < len(units) and 0xDC00 <= units[i + 1] <= 0xDFFF:
                out.append(chr(0x10000 + ((u - 0xD800) << 10) + (units[i + 1] - 0xDC00)))
                i += 2
                continue
            return None
        if 0xDC00 <= u <= 0xDFFF:
            return None
        out.append(chr(u))
        i += 1
    return "".join(out)


def _rpdf_hextok(s: str, i: int):
    m = _RPDF_HEXTOK_RE.match(s, i)
    if not m:
        return None, i
    return re.sub(r"[\x00\t\n\x0c\r ]", "", m.group(1)), m.end()


_RPDF_RANGE_CAP = 256


def _rpdf_parse_cmap(content: str):
    """Mirror of the kernel CMap rule (SPEC §3b Fonts): bfchar pairs and
    bfrange triples/arrays, src 1–2 bytes, dst UTF-16BE, range increments
    the final code point, span > 256 ignored."""
    cmap, lengths = {}, set()

    def add(code, nb, dst):
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
            src, i = _rpdf_hextok(content, i)
            if src is None or len(src) % 2 or len(src) // 2 not in (1, 2):
                break
            dst, i2 = _rpdf_hextok(content, i)
            if dst is None:
                break
            i = i2
            add(int(src, 16), len(src) // 2, _rpdf_utf16(dst))
        pos = i
    pos = 0
    while True:
        a = content.find("beginbfrange", pos)
        if a < 0:
            break
        i = a + len("beginbfrange")
        while True:
            lo_h, i = _rpdf_hextok(content, i)
            if lo_h is None or len(lo_h) % 2 or len(lo_h) // 2 not in (1, 2):
                break
            hi_h, i2 = _rpdf_hextok(content, i)
            if hi_h is None:
                break
            i = i2
            j = re.compile(r"[\x00\t\n\x0c\r ]*").match(content, i).end()
            lo, hi, nb = int(lo_h, 16), int(hi_h, 16), len(lo_h) // 2
            if content[j : j + 1] == "[":
                i = j + 1
                arr = []
                while True:
                    d, i2 = _rpdf_hextok(content, i)
                    if d is None:
                        break
                    arr.append(_rpdf_utf16(d))
                    i = i2
                i = re.compile(r"[\x00\t\n\x0c\r ]*").match(content, i).end()
                if content[i : i + 1] == "]":
                    i += 1
                if 0 <= hi - lo <= _RPDF_RANGE_CAP:
                    for off, dst in enumerate(arr[: hi - lo + 1]):
                        add(lo + off, nb, dst)
                continue
            dst_h, i2 = _rpdf_hextok(content, i)
            if dst_h is None:
                break
            i = i2
            base = _rpdf_utf16(dst_h)
            if base and 0 <= hi - lo <= _RPDF_RANGE_CAP:
                for off in range(hi - lo + 1):
                    add(lo + off, nb, base[:-1] + chr(ord(base[-1]) + off))
        pos = i
    if not cmap:
        return None
    return cmap, sorted(lengths, reverse=True)


def _rpdf_cmap_from_obj(text: str, span):
    body = text[span[0] : span[1]]
    m = _RPDF_STREAMKW_RE.search(body)
    if not m:
        return None
    end = body.find("endstream", m.end())
    if end < 0:
        return None
    content = body[m.end() : end]
    params = body[: m.start()]
    if "/Filter" in params:
        content = _rpdf_decode_stream(content, params)
        if content is None:
            return None
    return _rpdf_parse_cmap(content)


def _rpdf_key_dict(container, key: str, text: str, objs: dict, vobjs: dict):
    """``/Key`` (first occurrence, token-exact) in ``container`` → the
    value dict's body (inline span or referenced object body), else None —
    the oracle's regex form of the kernel's shared resolution step (SPEC
    §3b Fonts + Form XObjects)."""
    if container is None:
        return None
    k = container.find(key)
    if k < 0 or (
        k + len(key) < len(container)
        and not re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", container[k + len(key)])
    ):
        return None
    i = re.compile(r"[\x00\t\n\x0c\r ]*").match(container, k + len(key)).end()
    if container[i : i + 2] == "<<":
        inner, _ = _rpdf_dict_span(container, i)
        return inner if inner is not None else ""
    m = _RPDF_REFVAL_RE.match(container, k + len(key))
    return _rpdf_obj_body(text, objs, vobjs, int(m.group(1))) if m else None


# AGL-subset glyph table, mirror of the kernel's dict literal in a compact
# name=hexcodepoint form (public data — Adobe Glyph List / ISO 32000 Annex
# D.2); tests/test_realpdf.py asserts content equality of the two tables.
_RPDF_GLYPH_UNI = {
    nm: chr(int(cp, 16))
    for nm, cp in (
        e.split("=")
        for e in (
            "A=0041 AE=00C6 Aacute=00C1 Acircumflex=00C2 Adieresis=00C4 "
            "Agrave=00C0 Aring=00C5 Atilde=00C3 B=0042 C=0043 Ccedilla=00C7 "
            "D=0044 E=0045 Eacute=00C9 Ecircumflex=00CA Edieresis=00CB "
            "Egrave=00C8 Eth=00D0 Euro=20AC F=0046 G=0047 H=0048 I=0049 "
            "Iacute=00CD Icircumflex=00CE Idieresis=00CF Igrave=00CC J=004A "
            "K=004B L=004C M=004D N=004E Ntilde=00D1 O=004F OE=0152 Oacute=00D3 "
            "Ocircumflex=00D4 Odieresis=00D6 Ograve=00D2 Oslash=00D8 "
            "Otilde=00D5 P=0050 Q=0051 R=0052 S=0053 Scaron=0160 T=0054 "
            "Thorn=00DE U=0055 Uacute=00DA Ucircumflex=00DB Udieresis=00DC "
            "Ugrave=00D9 V=0056 W=0057 X=0058 Y=0059 Yacute=00DD Ydieresis=0178 "
            "Z=005A Zcaron=017D a=0061 aacute=00E1 acircumflex=00E2 acute=00B4 "
            "adieresis=00E4 ae=00E6 agrave=00E0 ampersand=0026 aring=00E5 "
            "asciicircum=005E asciitilde=007E asterisk=002A at=0040 atilde=00E3 "
            "b=0062 backslash=005C bar=007C braceleft=007B braceright=007D "
            "bracketleft=005B bracketright=005D brokenbar=00A6 bullet=2022 "
            "c=0063 ccedilla=00E7 cedilla=00B8 cent=00A2 circumflex=02C6 "
            "colon=003A comma=002C copyright=00A9 currency=00A4 d=0064 "
            "dagger=2020 daggerdbl=2021 degree=00B0 dieresis=00A8 divide=00F7 "
            "dollar=0024 e=0065 eacute=00E9 ecircumflex=00EA edieresis=00EB "
            "egrave=00E8 eight=0038 ellipsis=2026 emdash=2014 endash=2013 "
            "equal=003D eth=00F0 exclam=0021 exclamdown=00A1 f=0066 fi=FB01 "
            "five=0035 fl=FB02 florin=0192 four=0034 g=0067 germandbls=00DF "
            "grave=0060 greater=003E guillemotleft=00AB guillemotright=00BB "
            "guilsinglleft=2039 guilsinglright=203A h=0068 hyphen=002D i=0069 "
            "iacute=00ED icircumflex=00EE idieresis=00EF igrave=00EC j=006A "
            "k=006B l=006C less=003C logicalnot=00AC m=006D macron=00AF mu=00B5 "
            "multiply=00D7 n=006E nine=0039 ntilde=00F1 numbersign=0023 o=006F "
            "oacute=00F3 ocircumflex=00F4 odieresis=00F6 oe=0153 ograve=00F2 "
            "one=0031 onehalf=00BD onequarter=00BC onesuperior=00B9 "
            "ordfeminine=00AA ordmasculine=00BA oslash=00F8 otilde=00F5 p=0070 "
            "paragraph=00B6 parenleft=0028 parenright=0029 percent=0025 "
            "period=002E periodcentered=00B7 perthousand=2030 plus=002B "
            "plusminus=00B1 q=0071 question=003F questiondown=00BF "
            "quotedbl=0022 quotedblbase=201E quotedblleft=201C "
            "quotedblright=201D quoteleft=2018 quoteright=2019 "
            "quotesinglbase=201A quotesingle=0027 r=0072 registered=00AE s=0073 "
            "scaron=0161 section=00A7 semicolon=003B seven=0037 six=0036 "
            "slash=002F space=0020 sterling=00A3 t=0074 thorn=00FE three=0033 "
            "threequarters=00BE threesuperior=00B3 tilde=02DC trademark=2122 "
            "two=0032 twosuperior=00B2 u=0075 uacute=00FA ucircumflex=00FB "
            "udieresis=00FC ugrave=00F9 underscore=005F v=0076 w=0077 x=0078 "
            "y=0079 yacute=00FD ydieresis=00FF yen=00A5 z=007A zcaron=017E "
            "zero=0030"
        ).split()
    )
}
_RPDF_UNINAME_RE = re.compile(r"uni([0-9A-F]{4})\Z")
_RPDF_DIFFTOK_RE = re.compile(
    r"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"      # 1: name → map & increment
    r"|(\])"                                    # 2: array end
    r"|([^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"      # 3: regular token → int or reset
    r"|([()<>\[{}%])"                           # 4: stray delimiter → reset
)


def _rpdf_glyph_name_uni(nm: str):
    hit = _RPDF_GLYPH_UNI.get(nm)
    if hit is not None:
        return hit
    m = _RPDF_UNINAME_RE.match(nm)
    if m and not 0xD800 <= int(m.group(1), 16) <= 0xDFFF:
        return chr(int(m.group(1), 16))
    return None


# Base-encoding tables (v18) — the oracle's independent literal form of
# the kernel's codec-derived tables (ISO 32000 Annex D.2 / cp1252 /
# MacRoman — public data; content equality asserted in tests).
_RPDF_WINANSI = {
    int(e[:2], 16): chr(int(e[3:], 16))
    for e in (
        "80=20AC 82=201A 83=0192 84=201E 85=2026 86=2020 87=2021 88=02C6 "
        "89=2030 8A=0160 8B=2039 8C=0152 8E=017D 91=2018 92=2019 93=201C "
        "94=201D 95=2022 96=2013 97=2014 98=02DC 99=2122 9A=0161 9B=203A "
        "9C=0153 9E=017E 9F=0178"
    ).split()
}
_RPDF_MACROMAN = {
    0x80 + i: ch
    for i, ch in enumerate(
        "ÄÅÇÉÑÖÜáàâäãåçéèêëíìîïñóòôöõúùûü†°¢£§•¶ß®©™´¨≠ÆØ∞±≤≥¥µ∂∑∏π∫ªºΩæø"
        "¿¡¬√ƒ≈∆«»…\xa0ÀÃÕŒœ–—“”‘’÷◊ÿŸ⁄€‹›ﬁﬂ‡·‚„‰ÂÊÁËÈÍÎÏÌÓÔÒÚÛÙı"
        "ˆ˜¯˘˙˚¸˝˛ˇ"
    )
}
_RPDF_BASE_ENC = {
    "WinAnsiEncoding": _RPDF_WINANSI,
    "MacRomanEncoding": _RPDF_MACROMAN,
}

# v31: Identity-H / Identity-V mirror — the oracle's entry keeps the
# (cmap, lengths) shape with a string sentinel; decode is an independent
# pairwise int.from_bytes-style loop (vs the kernel's shift-or scanner).
_RPDF_ID2 = ("id2", [2])
_RPDF_ID2V = ("id2v", [2])  # v53: Identity-V — vertical writing mode
_RPDF_U16 = ("u16", [2])  # v61: UTF-16 — surrogate pairs combine
_RPDF_U16V = ("u16v", [2])
_RPDF_U32 = ("u32", [4])  # v62: UTF-32 — real 4-byte code points
_RPDF_U32V = ("u32v", [4])
_RPDF_VERT = ("id2v", "u16v", "u32v")


def _rpdf_id2_decode(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        pair = s[i : i + 2]
        if len(pair) == 2 and ord(pair[0]) < 256 and ord(pair[1]) < 256:
            code = ord(pair[0]) * 256 + ord(pair[1])
            out.append("�" if 0xD800 <= code < 0xE000 else chr(code))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _rpdf_u16_units(s: str, i: int):
    """Code unit at i (2 latin-1 chars) or None."""
    pair = s[i : i + 2]
    if len(pair) == 2 and ord(pair[0]) < 256 and ord(pair[1]) < 256:
        return ord(pair[0]) * 256 + ord(pair[1])
    return None


def _rpdf_u32_unit(s: str, i: int):
    quad = s[i : i + 4]
    if len(quad) == 4 and all(ord(c) < 256 for c in quad):
        return (
            (ord(quad[0]) << 24) | (ord(quad[1]) << 16)
            | (ord(quad[2]) << 8) | ord(quad[3])
        )
    return None


def _rpdf_u32_decode(s: str) -> str:
    """v62 mirror: 4-byte code points; invalid scalars → U+FFFD; short
    tails identity."""
    out = []
    i = 0
    while i < len(s):
        code = _rpdf_u32_unit(s, i)
        if code is None:
            out.append(s[i])
            i += 1
            continue
        out.append(
            "�" if code > 0x10FFFF or 0xD800 <= code < 0xE000 else chr(code)
        )
        i += 4
    return "".join(out)


def _rpdf_u16_decode(s: str) -> str:
    """v61 mirror: unit-pair walk with surrogate combining; lone
    surrogates → U+FFFD."""
    out = []
    i = 0
    while i < len(s):
        u = _rpdf_u16_units(s, i)
        if u is None:
            out.append(s[i])
            i += 1
            continue
        if 0xD800 <= u < 0xDC00:
            lo = _rpdf_u16_units(s, i + 2)
            if lo is not None and 0xDC00 <= lo < 0xE000:
                out.append(chr(0x10000 + ((u - 0xD800) << 10) + (lo - 0xDC00)))
                i += 4
                continue
        out.append("�" if 0xD800 <= u < 0xE000 else chr(u))
        i += 2
    return "".join(out)
_RPDF_KEYNAME_RE = re.compile(
    r"[\x00\t\n\x0c\r ]*/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
)


def _rpdf_key_name(body: str, key: str):
    """``/Key /Name`` anchored at the FIRST token-exact key → Name (v18)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return None
    m = _RPDF_KEYNAME_RE.match(body, after)
    return _rpdf_name_unescape(m.group(1)) if m and m.group(1) else None


def _rpdf_differences(text: str, objs: dict, vobjs: dict, fbody: str):
    """Mirror of the kernel Encoding rule (SPEC §3b, v13/v18): /Encoding
    as a bare base-encoding name (WinAnsi/MacRoman → Annex D table, any
    other name → identity) or a dict whose /BaseEncoding seeds the table
    before the /Differences overlay; ints set the code, names
    map-and-increment; unknown names skip (still increment); codes
    outside 0..255 skip. Entry shape = a 1-byte cmap."""
    enc = _rpdf_key_dict(fbody, "/Encoding", text, objs, vobjs)
    if enc is None:
        nm = _rpdf_key_name(fbody, "/Encoding")
        if nm == "Identity-H":  # v31
            return _RPDF_ID2
        if nm == "Identity-V":  # v31 decode; v53 vertical layout
            return _RPDF_ID2V
        if (
            nm is not None  # v54: Table 118; ADVICE: UCS2/UTF16 only —
            and nm.startswith("Uni")  # UTF32 names are 4-byte codes and
            and ("-UCS2-" in nm or "-UTF16-" in nm or "-UTF32-" in nm)
        ):
            if "-UTF32-" in nm:  # v62
                if nm.endswith("-H"):
                    return _RPDF_U32
                if nm.endswith("-V"):
                    return _RPDF_U32V
            u16 = "-UTF16-" in nm  # v61
            if nm.endswith("-H"):
                return _RPDF_U16 if u16 else _RPDF_ID2
            if nm.endswith("-V"):
                return _RPDF_U16V if u16 else _RPDF_ID2V
        base = _RPDF_BASE_ENC.get(nm) if nm else None
        if base is None:
            return None
        return {(c, 1): u for c, u in base.items()}, [1]
    base = _RPDF_BASE_ENC.get(_rpdf_key_name(enc, "/BaseEncoding") or "")
    cmap = {(c, 1): u for c, u in base.items()} if base else {}
    k = re.search(
        r"/Differences(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
        r"[\x00\t\n\x0c\r ]*\[", enc
    )
    if not k:
        return (cmap, [1]) if cmap else None
    code = -1
    for m in _RPDF_DIFFTOK_RE.finditer(enc, k.end()):
        if m.group(2):
            break
        if m.group(1) is not None:
            if 0 <= code <= 0xFF:
                uni = _rpdf_glyph_name_uni(_rpdf_name_unescape(m.group(1)))
                if uni is not None:
                    cmap[(code, 1)] = uni
            code += 1
            continue
        tok = m.group(3)
        try:
            code = int(tok) if tok is not None else -1
        except ValueError:
            code = -1  # malformed token: following names don't map
    return (cmap, [1]) if cmap else None


def _rpdf_has_key(body: str, key: str) -> bool:
    """Token-exact presence at the FIRST literal occurrence (v15)."""
    k = body.find(key)
    if k < 0:
        return False
    after = k + len(key)
    return after >= len(body) or bool(
        re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after])
    )


def _rpdf_inherited_resources(text, objs, vobjs, body):
    """Mirror of the kernel v15 rule: the FIRST body on the page →
    /Parent walk carrying a token-exact /Resources wins (even when its
    value fails to resolve); ≤ 16 hops, revisit ends the walk."""
    cur = body
    visited = set()
    for _ in range(17):
        if _rpdf_has_key(cur, "/Resources"):
            return _rpdf_key_dict(cur, "/Resources", text, objs, vobjs)
        pref = _rpdf_key_ref(cur, "/Parent")
        if pref is None or pref in visited:
            return None
        visited.add(pref)
        cur = _rpdf_obj_body(text, objs, vobjs, pref)
        if cur is None:
            return None
    return None


_RPDF_WIDTHSKEY_RE = re.compile(r"/Widths" + _RPDF_NAMEEND)
# v43: /FontMatrix [a b c d e f] — only a (group 1) scales the advance
_RPDF_FONTMATRIX_RE = re.compile(
    r"/FontMatrix(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)[\x00\t\n\x0c\r ]*\[" +
    r"[\x00\t\n\x0c\r ]*".join(
        r"([+-]?(?:\d+\.?\d*|\.\d+))(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
        for _ in range(6)
    )
    + r"[\x00\t\n\x0c\r ]*\]"
)
_RPDF_ARROPEN_RE = re.compile(r"[\x00\t\n\x0c\r ]*\[")
_RPDF_ARRTOK_RE = re.compile(
    r"[\x00\t\n\x0c\r ]*(\]|[^\x00\t\n\x0c\r ()<>\[\]{}/%]+|.)"
)


def _rpdf_widths(text: str, objs: dict, vobjs: dict, fbody: str):
    """Mirror of the kernel /FirstChar + /Widths rule (SPEC §3b Advance
    widths, v25) — regex tokenization instead of the kernel's index
    walk; same degrades (non-number token, unterminated array, > 4096
    entries, malformed /FirstChar → None)."""
    k = fbody.find("/Widths")  # FIRST occurrence, token-exact or fail
    if k < 0 or _RPDF_WIDTHSKEY_RE.match(fbody, k) is None:
        return None
    after = k + len("/Widths")
    fc = _rpdf_key_int(fbody, "/FirstChar")
    if fc is None:
        return None
    am = _RPDF_ARROPEN_RE.match(fbody, after)
    if am:
        arr, j = fbody, am.end()
    else:
        rm = _RPDF_REFVAL_RE.match(fbody, after)
        if rm is None:
            return None
        ob = _rpdf_obj_body(text, objs, vobjs, int(rm.group(1)))
        if ob is None:
            return None
        am = _RPDF_ARROPEN_RE.match(ob)
        if am is None:
            return None
        arr, j = ob, am.end()
    ws = []
    while True:
        tm = _RPDF_ARRTOK_RE.match(arr, j)
        if tm is None:
            return None  # unterminated array
        tok = tm.group(1)
        if tok == "]":
            break
        if not _RPDF_NUM_RE.match(tok):
            return None
        ws.append(float(tok))
        if len(ws) > 4096:
            return None
        j = tm.end()
    # v43: Type3 widths are glyph-space quantities scaled by the first
    # /FontMatrix element (ISO 32000 §9.6.5); missing/degenerate matrix
    # degrades to the simple-font 1/1000 scale — regex closed form of
    # the kernel's _key_num_array walk.
    scale = 0.001
    if _rpdf_key_name(fbody, "/Subtype") == "Type3":
        k3 = fbody.find("/FontMatrix")
        if k3 >= 0:
            fm = _RPDF_FONTMATRIX_RE.match(fbody, k3)
            if fm is not None and float(fm.group(1)) != 0.0:
                scale = float(fm.group(1))
    miss = 0.0
    fd = _rpdf_key_ref(fbody, "/FontDescriptor")
    if fd is not None:
        fdb = _rpdf_obj_body(text, objs, vobjs, fd)
        if fdb is not None:
            mw = _rpdf_key_int(fdb, "/MissingWidth")
            if mw is not None:
                miss = mw * scale
    wtab = [miss] * 256
    for i, w in enumerate(ws):
        if 0 <= fc + i <= 255:
            wtab[fc + i] = w * scale
    return tuple(wtab), miss


_RPDF_DFKEY_RE = re.compile(r"/DescendantFonts" + _RPDF_NAMEEND)
_RPDF_WKEY_RE = re.compile(r"/W" + _RPDF_NAMEEND)


def _rpdf_warr_tokens(arr: str, j: int):
    """Tokenize a /W array body from ``j`` (after ``[``) into a flat list
    of floats and ``"["``/``"]"`` markers for the OUTER array; None on an
    unterminated array or a non-number token (SPEC §3b CID width arrays,
    v33). Nested run brackets come through as markers — the group walk
    re-imposes structure."""
    toks: list = []
    depth = 1
    while True:
        tm = _RPDF_ARRTOK_RE.match(arr, j)
        if tm is None:
            return None
        tok = tm.group(1)
        j = tm.end()
        if tok == "]":
            depth -= 1
            if depth == 0:
                return toks
            toks.append("]")
        elif tok == "[":
            depth += 1
            if depth > 2:
                return None  # /W nests at most one run level
            toks.append("[")
        elif _RPDF_NUM_RE.match(tok):
            toks.append(float(tok))
        else:
            return None


def _rpdf_cid_widths(text: str, objs: dict, vobjs: dict, fbody: str):
    """Mirror of the kernel /DescendantFonts → /W + /DW rule (SPEC §3b CID
    width arrays, v33) — regex tokenization into a flat token list, then
    a group walk; same degrades (junk token, unterminated, non-integral /
    out-of-range / reversed bounds, dangling group, > 65536 covered)."""
    k = fbody.find("/DescendantFonts")
    if k < 0 or _RPDF_DFKEY_RE.match(fbody, k) is None:
        return None
    after = k + len("/DescendantFonts")
    am = _RPDF_ARROPEN_RE.match(fbody, after)
    if am:
        arr, j = fbody, am.end()
    else:
        rm = _RPDF_REFVAL_RE.match(fbody, after)
        if rm is None:
            return None
        ob = _rpdf_obj_body(text, objs, vobjs, int(rm.group(1)))
        if ob is None:
            return None
        am = _RPDF_ARROPEN_RE.match(ob)
        if am is None:
            return None
        arr, j = ob, am.end()
    j = _RPDF_WSRUN_RE.match(arr, j).end()
    dm = _RPDF_REFVAL0_RE.match(arr, j)
    if dm is None:
        return None
    desc = _rpdf_obj_body(text, objs, vobjs, int(dm.group(1)))
    if desc is None:
        return None
    dw = _rpdf_key_int(desc, "/DW")
    dwu = (1000 if dw is None else dw) / 1000.0
    kw = desc.find("/W")
    if kw < 0:
        return {}, dwu
    if _RPDF_WKEY_RE.match(desc, kw) is None:
        return {}, dwu  # longer first name (/WMode, /Widths) = absent
    after2 = kw + 2
    am2 = _RPDF_ARROPEN_RE.match(desc, after2)
    if am2:
        warr, j2 = desc, am2.end()
    else:
        rm2 = _RPDF_REFVAL_RE.match(desc, after2)
        if rm2 is None:
            return None
        wb = _rpdf_obj_body(text, objs, vobjs, int(rm2.group(1)))
        if wb is None:
            return None
        am2 = _RPDF_ARROPEN_RE.match(wb)
        if am2 is None:
            return None
        warr, j2 = wb, am2.end()
    toks = _rpdf_warr_tokens(warr, j2)
    if toks is None:
        return None
    wmap: dict = {}
    covered = 0
    i, n = 0, len(toks)
    while i < n:
        c1 = toks[i]
        if not isinstance(c1, float) or c1 != int(c1) or not 0 <= c1 <= 65535:
            return None
        c1 = int(c1)
        i += 1
        if i < n and toks[i] == "[":
            i += 1
            step = 0
            while i < n and toks[i] != "]":
                if not isinstance(toks[i], float):
                    return None
                covered += 1
                if covered > 65536:
                    return None
                if c1 + step <= 65535:
                    wmap[c1 + step] = toks[i] / 1000.0
                step += 1
                i += 1
            if i >= n:
                return None  # run bracket never closed in the outer array
            i += 1
        elif i + 1 < n and isinstance(toks[i], float) and isinstance(toks[i + 1], float):
            c2 = toks[i]
            if c2 != int(c2) or not 0 <= c2 <= 65535:
                return None
            c2 = int(c2)
            if c2 < c1:
                return None
            covered += c2 - c1 + 1
            if covered > 65536:
                return None
            wu = toks[i + 1] / 1000.0
            for c in range(c1, c2 + 1):
                wmap[c] = wu
            i += 2
        else:
            return None  # dangling group
    return wmap, dwu


def _rpdf_cid_w2(text: str, objs: dict, vobjs: dict, fbody: str):
    """Mirror of the kernel /DescendantFonts → /W2 + /DW2 rule (v60, ISO
    §9.7.4.3 Table 117): {code: downward em advance} (= −w1y/1000) +
    default from /DW2[1] (default −1000 → 1.0). Bracket groups are
    TRIPLES (w1y v1x v1y per glyph — non-multiple-of-3 refuses); range
    groups are 5 numbers; position vectors ignored (pinned). None when
    the descendant carries neither /W2 nor a usable /DW2 (the exact
    pre-v60 default path), or on any malformed form."""
    k = fbody.find("/DescendantFonts")
    if k < 0 or _RPDF_DFKEY_RE.match(fbody, k) is None:
        return None
    after = k + len("/DescendantFonts")
    am = _RPDF_ARROPEN_RE.match(fbody, after)
    if am:
        arr, j = fbody, am.end()
    else:
        rm = _RPDF_REFVAL_RE.match(fbody, after)
        if rm is None:
            return None
        ob = _rpdf_obj_body(text, objs, vobjs, int(rm.group(1)))
        if ob is None:
            return None
        am = _RPDF_ARROPEN_RE.match(ob)
        if am is None:
            return None
        arr, j = ob, am.end()
    j = _RPDF_WSRUN_RE.match(arr, j).end()
    dm = _RPDF_REFVAL0_RE.match(arr, j)
    if dm is None:
        return None
    desc = _rpdf_obj_body(text, objs, vobjs, int(dm.group(1)))
    if desc is None:
        return None
    dw2u = 1.0
    has_vert = False
    k0 = desc.find("/DW2")
    if k0 >= 0 and re.match(
        r"/DW2(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)", desc[k0:]
    ):
        m0 = re.match(
            r"/DW2[\x00\t\n\x0c\r ]*\[[\x00\t\n\x0c\r ]*"
            r"(-?(?:\d+\.?\d*|\.\d+))[\x00\t\n\x0c\r ]+"
            r"(-?(?:\d+\.?\d*|\.\d+))",
            desc[k0:],
        )
        if m0 is None:
            return None
        dw2u = -float(m0.group(2)) / 1000.0
        has_vert = True
    kw = desc.find("/W2")
    if kw < 0 or re.match(
        r"/W2(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)", desc[kw:]
    ) is None:
        return ({}, dw2u) if has_vert else None
    after2 = kw + 3
    am2 = _RPDF_ARROPEN_RE.match(desc, after2)
    if am2:
        warr, j2 = desc, am2.end()
    else:
        rm2 = _RPDF_REFVAL_RE.match(desc, after2)
        if rm2 is None:
            return None
        wb = _rpdf_obj_body(text, objs, vobjs, int(rm2.group(1)))
        if wb is None:
            return None
        am2 = _RPDF_ARROPEN_RE.match(wb)
        if am2 is None:
            return None
        warr, j2 = wb, am2.end()
    toks = _rpdf_warr_tokens(warr, j2)
    if toks is None:
        return None
    wmap: dict = {}
    covered = 0
    i, n = 0, len(toks)
    while i < n:
        c1 = toks[i]
        if not isinstance(c1, float) or c1 != int(c1) or not 0 <= c1 <= 65535:
            return None
        c1 = int(c1)
        i += 1
        if i < n and toks[i] == "[":
            i += 1
            vals = []
            while i < n and toks[i] != "]":
                if not isinstance(toks[i], float):
                    return None
                vals.append(toks[i])
                i += 1
            if i >= n:
                return None
            i += 1
            if len(vals) % 3:
                return None
            for g in range(len(vals) // 3):
                covered += 1
                if covered > 65536:
                    return None
                if c1 + g <= 65535:
                    wmap[c1 + g] = -vals[3 * g] / 1000.0
        elif i + 3 < n and all(
            isinstance(toks[i + t], float) for t in range(4)
        ):
            c2 = toks[i]
            if c2 != int(c2) or not 0 <= c2 <= 65535:
                return None
            c2 = int(c2)
            if c2 < c1:
                return None
            covered += c2 - c1 + 1
            if covered > 65536:
                return None
            wu = -toks[i + 1] / 1000.0
            for c in range(c1, c2 + 1):
                wmap[c] = wu
            i += 4
        else:
            return None
    return wmap, dw2u


# v56 mirror: core-font AFM metrics as ONE whitespace-separated string
# per face (independent literal form of the kernel tuples; content
# equality gated by test). ASCII 32..126 in code order.
_RPDF_AFM_HELV = tuple(int(w) for w in (
    "278 278 355 556 556 889 667 191 333 333 389 584 278 333 278 278"
    " 556 556 556 556 556 556 556 556 556 556 278 278 584 584 584 556"
    " 1015 667 667 722 722 667 611 778 722 278 500 667 556 833 722 778"
    " 667 778 722 667 611 722 667 944 667 667 611 278 278 278 469 556"
    " 333 556 556 500 556 556 278 556 556 222 222 500 222 833 556 556"
    " 556 556 333 500 278 556 500 722 500 500 500 334 260 334 584"
).split())
_RPDF_AFM_TIMES = tuple(int(w) for w in (
    "250 333 408 500 500 833 778 180 333 333 500 564 250 333 250 278"
    " 500 500 500 500 500 500 500 500 500 500 278 278 564 564 564 444"
    " 921 722 667 667 722 611 556 722 722 333 389 722 611 889 722 722"
    " 556 722 667 556 611 722 722 944 722 722 611 333 278 333 469 500"
    " 333 444 500 444 500 444 333 500 500 278 278 500 278 778 500 500"
    " 500 500 333 389 278 500 500 722 500 500 444 480 200 480 541"
).split())
_RPDF_COURIERS = frozenset((
    "Courier", "Courier-Bold", "Courier-Oblique", "Courier-BoldOblique",
))


def _rpdf_std14(fbody: str):
    nm = _rpdf_key_name(fbody, "/BaseFont")
    if nm is None:
        return None
    if len(nm) > 7 and nm[6] == "+" and nm[:6].isalpha() and nm[:6].isupper():
        nm = nm[7:]
    if nm in _RPDF_COURIERS:
        wtab = [0.0] * 256
        for c in range(32, 127):
            wtab[c] = 0.6
        return tuple(wtab), 0.0
    afm = (
        _RPDF_AFM_HELV
        if nm == "Helvetica"
        else _RPDF_AFM_TIMES
        if nm == "Times-Roman"
        else None
    )
    if afm is None:
        return None
    wtab = [0.0] * 256
    for i, w in enumerate(afm):
        wtab[32 + i] = w / 1000.0
    return tuple(wtab), 0.0


def _rpdf_font_table(text: str, objs: dict, vobjs: dict, res):
    fdict = _rpdf_key_dict(res, "/Font", text, objs, vobjs)
    if fdict is None:
        return {}
    fonts = {}
    for fm in _RPDF_FONTENT_RE.finditer(fdict):
        num = int(fm.group(2))
        fbody = _rpdf_obj_body(text, objs, vobjs, num)
        if fbody is None:
            continue
        tref = _rpdf_key_ref(fbody, "/ToUnicode")
        # ObjStm-contained objects cannot be streams → no CMap from vobjs
        cm = None
        if tref is not None and tref not in vobjs and tref in objs:
            cm = _rpdf_cmap_from_obj(text, objs[tref])
        if cm is None and "/Encoding" in fbody:
            # v13: Differences fallback — ToUnicode wins when both parse
            cm = _rpdf_differences(text, objs, vobjs, fbody)
        # v33: a usable descendant-CIDFont /W entry wins over /Widths
        wd = (
            _rpdf_cid_widths(text, objs, vobjs, fbody)
            if "/DescendantFonts" in fbody
            else None
        )
        if wd is None and "/Widths" in fbody:
            wd = _rpdf_widths(text, objs, vobjs, fbody)
        if wd is None and "/BaseFont" in fbody:
            wd = _rpdf_std14(fbody)  # v56: core-font builtin metrics
        if (
            cm is not None
            and cm[0] in _RPDF_VERT
            and "/DescendantFonts" in fbody
        ):
            w2 = _rpdf_cid_w2(text, objs, vobjs, fbody)  # v60
            if w2 is not None:
                wd = (w2[0], w2[1], "v")
        if cm is not None or wd is not None:
            fonts[_rpdf_name_unescape(fm.group(1))] = (cm, wd)
    return fonts


def _rpdf_xobject_table(text: str, objs: dict, vobjs: dict, res):
    """Resolved /Resources body → {xobject name: object number} via
    /XObject (SPEC §3b Form XObjects, v9); validation is lazy, at Do
    time."""
    xdict = _rpdf_key_dict(res, "/XObject", text, objs, vobjs)
    if xdict is None:
        return {}
    return {
        _rpdf_name_unescape(fm.group(1)): int(fm.group(2))
        for fm in _RPDF_FONTENT_RE.finditer(xdict)
    }


_RPDF_SUBTYPE_RE = re.compile(
    r"/Subtype(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)[\x00\t\n\x0c\r ]*"
    r"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
)
_RPDF_MATRIX_RE = re.compile(
    r"/Matrix(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)[\x00\t\n\x0c\r ]*\[" +
    r"[\x00\t\n\x0c\r ]*".join(
        r"([+-]?(?:\d+\.?\d*|\.\d+))(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
        for _ in range(6)
    )
    + r"[\x00\t\n\x0c\r ]*\]"
)


def _rpdf_subtype_is(params: str, name: str) -> bool:
    """First token-exact /Subtype value == /name (SPEC §3b, v9)."""
    k = params.find("/Subtype")
    if k < 0:
        return False
    m = _RPDF_SUBTYPE_RE.match(params, k)
    return bool(m) and _rpdf_name_unescape(m.group(1)) == name


def _rpdf_subtype_name(params: str):
    """First token-exact /Subtype name, or None (SPEC §3b, v28)."""
    k = params.find("/Subtype")
    if k < 0:
        return None
    m = _RPDF_SUBTYPE_RE.match(params, k)
    return _rpdf_name_unescape(m.group(1)) if m else None


# /Contents-bearing annotation subtypes (SPEC §3b Annotations v28):
# FreeText + the ISO 32000 §12.5.6 markup set. Popup and Link are out —
# Popup mirrors its parent's /Contents, Link's is an alt description.
_RPDF_ANNOT_TEXT_SUBTYPES = frozenset((
    "Text", "FreeText", "Stamp", "Caret", "Ink",
    "Highlight", "Underline", "Squiggly", "StrikeOut",
    "Square", "Circle", "Polygon", "PolyLine", "FileAttachment",
))


_RPDF_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _rpdf_matrix6(params: str):
    """The full 6-tuple of the first token-exact /Matrix [a b c d e f];
    identity on absence/malformation — regex closed form of the kernel's
    scan (SPEC §3b Graphics state, v20)."""
    k = params.find("/Matrix")
    if k < 0:
        return _RPDF_IDENT
    m = _RPDF_MATRIX_RE.match(params, k)
    if not m:
        return _RPDF_IDENT
    return tuple(float(m.group(i)) for i in range(1, 7))


def _rpdf_compose(m, ctm):
    """m × ctm, row-vector convention (point maps through m, then ctm) —
    the oracle's composition mirror (v20)."""
    if m == _RPDF_IDENT:
        return ctm
    if ctm == _RPDF_IDENT:
        return m
    return (
        m[0] * ctm[0] + m[1] * ctm[2],
        m[0] * ctm[1] + m[1] * ctm[3],
        m[2] * ctm[0] + m[3] * ctm[2],
        m[2] * ctm[1] + m[3] * ctm[3],
        m[4] * ctm[0] + m[5] * ctm[2] + ctm[4],
        m[4] * ctm[1] + m[5] * ctm[3] + ctm[5],
    )


_RPDF_MEDIABOX_KEY_RE = re.compile(
    r"/MediaBox(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)[\x00\t\n\x0c\r ]*\[" +
    r"[\x00\t\n\x0c\r ]*".join(
        r"([+-]?(?:\d+\.?\d*|\.\d+))(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
        for _ in range(4)
    )
    + r"[\x00\t\n\x0c\r ]*\]"
)
_RPDF_CROPBOX_KEY_RE = re.compile(
    r"/CropBox(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)[\x00\t\n\x0c\r ]*\[" +
    r"[\x00\t\n\x0c\r ]*".join(
        r"([+-]?(?:\d+\.?\d*|\.\d+))(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
        for _ in range(4)
    )
    + r"[\x00\t\n\x0c\r ]*\]"
)


def _rpdf_key_mediabox(body):
    """Page-local /MediaBox → (w, h) with positive extent, else None
    (SPEC §3b Per-page geometry, v10) — regex closed form."""
    if body is None:
        return None
    k = body.find("/MediaBox")
    if k < 0:
        return None
    m = _RPDF_MEDIABOX_KEY_RE.match(body, k)
    if not m:
        return None
    a, b, c, d = (float(m.group(g)) for g in range(1, 5))
    if c - a > 0 and d - b > 0:
        return c - a, d - b
    return None


def _rpdf_key_cropbox(body):
    """Page-local /CropBox → raw rect with positive extent, else None
    (degenerate = "not present here", walk continues — SPEC §3b CropBox,
    v19)."""
    if body is None:
        return None
    k = body.find("/CropBox")
    if k < 0:
        return None
    m = _RPDF_CROPBOX_KEY_RE.match(body, k)
    if not m:
        return None
    a, b, c, d = (float(m.group(g)) for g in range(1, 5))
    if c - a > 0 and d - b > 0:
        return a, b, c, d
    return None


def _rpdf_page_geometry(text, objs, vobjs, body, dflt, want_crop=False):
    """(page_w, page_h, rotate, crop_x, crop_y) up the /Parent chain —
    ≤ 16 hops, revisit ends the walk; /Rotate per the plain-integer rule,
    normalized mod 360 to {0, 90, 180, 270} else 0 (SPEC §3b Per-page
    geometry, v10); a resolvable /CropBox clips to [0, mb_w]×[0, mb_h]
    and, when the clipped extent is positive, supplies the page extent
    and viewport origin (SPEC §3b CropBox, v19)."""
    mb = rot = crop = None
    cur = body
    visited = set()
    for _ in range(17):
        if mb is None:
            mb = _rpdf_key_mediabox(cur)
        if rot is None:
            rot = _rpdf_key_int(cur, "/Rotate")
        if want_crop and crop is None:
            crop = _rpdf_key_cropbox(cur)
        if mb is not None and rot is not None and (
            not want_crop or crop is not None
        ):
            break
        pref = _rpdf_key_ref(cur, "/Parent")
        if pref is None or pref in visited:
            break
        visited.add(pref)
        cur = _rpdf_obj_body(text, objs, vobjs, pref)
        if cur is None:
            break
    if mb is None:
        mb = dflt
    r = (rot or 0) % 360
    r = r if r in (90, 180, 270) else 0
    if crop is not None:
        cx, cy = max(crop[0], 0.0), max(crop[1], 0.0)
        cw = min(crop[2], mb[0]) - cx
        ch = min(crop[3], mb[1]) - cy
        if cw > 0 and ch > 0:
            return cw, ch, r, cx, cy
    return mb[0], mb[1], r, 0.0, 0.0


_RPDF_FORM_MAX_DEPTH = 8
_RPDF_GSTACK_MAX = 64  # q-nesting cap mirror (v20)


def _rpdf_arr_refs(s: str, i: int):
    """Refs from the ``[`` at ``i`` until ``]`` or the first non-ref (the
    /Contents-array rule — the oracle's regex form)."""
    out = []
    i += 1
    while True:
        i = _RPDF_WSRUN_RE.match(s, i).end()
        if i >= len(s) or s[i] == "]":
            return out
        m = _RPDF_REFVAL0_RE.match(s, i)
        if m is None:
            return out
        out.append(int(m.group(1)))
        i = m.end()


def _rpdf_off_ocgs(text: str, objs: dict, vobjs: dict) -> frozenset:
    """Mirror of the kernel OFF-set rule (SPEC §3b Optional content,
    v36): /OCProperties → /D → /OFF [refs]; any failure → empty."""
    ocp = _rpdf_key_dict(text, "/OCProperties", text, objs, vobjs)
    if ocp is None:
        return frozenset()
    d = _rpdf_key_dict(ocp, "/D", text, objs, vobjs)
    if d is None:
        return frozenset()
    k = d.find("/OFF")
    if k < 0 or (
        k + 4 < len(d)
        and not re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", d[k + 4])
    ):
        return frozenset()
    i = _RPDF_WSRUN_RE.match(d, k + 4).end()
    if d[i : i + 1] != "[":
        return frozenset()
    return frozenset(_rpdf_arr_refs(d, i))


def _rpdf_oc_hidden(
    text: str, objs: dict, vobjs: dict, res, off: frozenset
) -> frozenset:
    """Mirror of the kernel hidden-property-name rule (SPEC §3b Optional
    content, v36): /Properties entries resolve to OFF verdicts; /OCGs =
    OCMD with the AnyOn policy; plain OCG by own number; failures render."""
    if res is None or not off:
        return frozenset()
    pdict = _rpdf_key_dict(res, "/Properties", text, objs, vobjs)
    if pdict is None:
        return frozenset()
    hidden = set()
    for fm in _RPDF_FONTENT_RE.finditer(pdict):
        nm, num = fm.group(1), int(fm.group(2))
        body = _rpdf_obj_body(text, objs, vobjs, num)
        if body is None:
            continue
        k = body.find("/OCGs")
        if k >= 0 and (
            k + 5 >= len(body)
            or re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[k + 5])
        ):
            i = _RPDF_WSRUN_RE.match(body, k + 5).end()
            if body[i : i + 1] == "[":
                refs = _rpdf_arr_refs(body, i)
            else:
                m = _RPDF_REFVAL_RE.match(body, k + 5)
                refs = [int(m.group(1))] if m else []
            if refs and all(r in off for r in refs):
                hidden.add(nm)
        elif num in off:
            hidden.add(nm)
    return frozenset(hidden)


def _rpdf_form_bbox(params: str):
    """Normalized form /BBox (v49, ISO §8.10.1): first token-exact key
    with an inline 4-number array; absent/malformed -> None (no clip)."""
    k = params.find("/BBox")
    if k < 0 or (
        k + 5 < len(params)
        and not re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", params[k + 5])
    ):
        return None
    m = _RPDF_RECTVAL_RE.match(params, k + 5)
    if m is None:
        return None
    a, b, c, d = (float(m.group(g)) for g in range(1, 5))
    return (min(a, c), min(b, d), max(a, c), max(b, d))


def _rpdf_form_resolver(
    text: str, objs: dict, vobjs: dict, off: frozenset = frozenset()
):
    """Object number → (token list, fonts, xobjects, /Matrix 6-tuple,
    hidden optional-content names — v36) for
    /Subtype /Form direct stream objects, else None (SPEC §3b Form
    XObjects, v9; full matrix since v20) —
    memoized; the oracle resolves to TOKENS where the kernel resolves to a
    content string."""
    cache: dict = {}

    def resolve(num):
        if num in cache:
            return cache[num]
        cache[num] = None
        if num in vobjs or num not in objs:
            return None
        body = text[objs[num][0] : objs[num][1]]
        m = _RPDF_STREAMKW_RE.search(body)
        if not m:
            return None
        end = body.find("endstream", m.end())
        if end < 0:
            return None
        params = body[: m.start()]
        if not _rpdf_subtype_is(params, "Form"):
            return None
        content = body[m.end() : end]
        if "/Filter" in params:
            content = _rpdf_decode_stream(content, params)
            if content is None:
                return None
        res_f = _rpdf_key_dict(params, "/Resources", text, objs, vobjs)
        entry = (
            _rpdf_tokens(content),
            _rpdf_font_table(text, objs, vobjs, res_f),
            _rpdf_xobject_table(text, objs, vobjs, res_f),
            _rpdf_matrix6(params),
            _rpdf_oc_hidden(text, objs, vobjs, res_f, off),
            _rpdf_form_bbox(params),  # v49: the form clips to its BBox
        )
        cache[num] = entry
        return entry

    return resolve


_RPDF_REFVAL0_RE = re.compile(
    r"(\d+)[\x00\t\n\x0c\r ]+0[\x00\t\n\x0c\r ]+R" + _RPDF_NAMEEND
)
_RPDF_WSRUN_RE = re.compile(r"[\x00\t\n\x0c\r ]*")
_RPDF_CONTENTS_ARR_RE = re.compile(r"/Contents[\x00\t\n\x0c\r ]*\[")


def _rpdf_contents_refs(body: str):
    """Mirror of the kernel /Contents rule (v14): single ref or array of
    refs at the FIRST token-exact occurrence; the array read stops at ]
    or the first non-ref element."""
    k = body.find("/Contents")
    if k < 0:
        return []
    after = k + len("/Contents")
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return []
    i = _RPDF_WSRUN_RE.match(body, after).end()
    if body[i : i + 1] == "[":
        i += 1
        refs = []
        while i < len(body):
            i = _RPDF_WSRUN_RE.match(body, i).end()
            if body[i : i + 1] == "]":
                break
            r = _RPDF_REFVAL0_RE.match(body, i)
            if not r:
                break
            refs.append(int(r.group(1)))
            i = r.end()
        return refs
    r = _RPDF_REFVAL0_RE.match(body, i)
    return [int(r.group(1))] if r else []


def _rpdf_kids_refs(body: str):
    """/Kids [ N 0 R … ] at the FIRST token-exact occurrence — the array
    read stops at ] or the first non-ref element; non-array → empty
    (mirror of the kernel rule, v21)."""
    k = body.find("/Kids")
    if k < 0:
        return []
    after = k + len("/Kids")
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return []
    i = _RPDF_WSRUN_RE.match(body, after).end()
    if body[i : i + 1] != "[":
        return []
    i += 1
    refs = []
    while i < len(body):
        i = _RPDF_WSRUN_RE.match(body, i).end()
        if body[i : i + 1] == "]":
            break
        r = _RPDF_REFVAL0_RE.match(body, i)
        if not r:
            break
        refs.append(int(r.group(1)))
        i = r.end()
    return refs


_RPDF_ROOT_RE = re.compile(
    r"/Root(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
)
_RPDF_TREE_MAX_NODES = 512
_RPDF_TREE_MAX_DEPTH = 32


def _rpdf_page_tree_order(text: str, objs: dict, vobjs: dict):
    """Ordered page object numbers from the page tree — regex mirror of
    the kernel's walk (SPEC §3b Page tree, v21): LAST valid /Root N 0 R
    → catalog → first /Pages ref → depth-first /Kids walk, visited-set
    cycle guard, depth cap prunes, node cap aborts, no leaves → None."""
    root = None
    for m in _RPDF_ROOT_RE.finditer(text):
        r = _RPDF_REFVAL_RE.match(text, m.end())
        if r:
            root = int(r.group(1))
    if root is None:
        return None
    cat = _rpdf_obj_body(text, objs, vobjs, root)
    if cat is None:
        return None
    pages_ref = _rpdf_key_ref(cat, "/Pages")
    if pages_ref is None:
        return None
    order, visited = [], set()

    def walk(num, depth):
        if num in visited or depth > _RPDF_TREE_MAX_DEPTH:
            return True
        if len(visited) >= _RPDF_TREE_MAX_NODES:
            return False
        visited.add(num)
        body = _rpdf_obj_body(text, objs, vobjs, num)
        if body is None:
            return True
        if _rpdf_first_type_is(body, "Page"):
            order.append(num)
            return True
        if not _rpdf_first_type_is(body, "Pages"):
            return True
        for kid in _rpdf_kids_refs(body):
            if not walk(kid, depth + 1):
                return False
        return True

    if not walk(pages_ref, 0) or not order:
        return None
    return order


_RPDF_NUMPAT = r"[+-]?(?:\d+\.?\d*|\.\d+)"
_RPDF_RECTVAL_RE = re.compile(
    r"[\x00\t\n\x0c\r ]*\["
    + 4 * (
        r"[\x00\t\n\x0c\r ]*("
        + _RPDF_NUMPAT
        + r")(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
    )
    + r"[\x00\t\n\x0c\r ]*\]"
)


def _rpdf_string_at(s: str, i: int):
    """Inline literal/hex string starting at s[i], or None — the oracle's
    regex-chunk literal reader lifted out of the tokenizer (unterminated
    → what accumulated, the kernel rule)."""
    if s[i : i + 1] == "(":
        parts, depth, i = [], 1, i + 1
        while i < len(s):
            m = _RPDF_STRCHUNK_RE.match(s, i)
            if m is None:
                break
            i = m.end()
            esc, paren, plain = m.groups()
            if plain is not None:
                if "\r" in plain:  # v47: raw EOLs read as LF
                    plain = plain.replace("\r\n", "\n").replace("\r", "\n")
                parts.append(plain)
            elif paren == "(":
                depth += 1
                parts.append("(")
            elif paren == ")":
                depth -= 1
                if depth == 0:
                    return "".join(parts)
                parts.append(")")
            elif esc in ("\n", "\r", "\r\n"):
                pass  # v47: any-EOL line continuation
            elif esc[0] in "01234567":
                parts.append(chr(int(esc, 8) % 256))
            else:
                parts.append(_RPDF_ESC.get(esc, esc))
        return "".join(parts)
    if s[i : i + 1] == "<" and s[i : i + 2] != "<<":
        body = _RPDF_HEXBODY_RE.match(s, i + 1).group(0)
        hx = "".join(c for c in body if c in "0123456789abcdefABCDEF")
        if len(hx) % 2:
            hx += "0"
        return "".join(
            chr(int(hx[k : k + 2], 16)) for k in range(0, len(hx), 2)
        )
    return None


def _rpdf_has_key(body: str, key: str) -> bool:
    """Token-exact presence at the key's FIRST literal occurrence — the
    kernel _has_key mirror (v45): a first occurrence failing the name
    boundary (e.g. /V inside /Value) is absence, later hits ignored."""
    k = body.find(key)
    if k < 0:
        return False
    after = k + len(key)
    return after >= len(body) or bool(
        re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after])
    )


def _rpdf_key_string(body: str, key: str):
    """Inline string value after the key's FIRST token-exact occurrence
    (SPEC §3b Annotations, v27)."""
    k = body.find(key)
    if k < 0:
        return None
    after = k + len(key)
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return None
    return _rpdf_string_at(body, _RPDF_WSRUN_RE.match(body, after).end())


def _rpdf_page_annots(text: str, objs: dict, vobjs: dict, body: str):
    """Mirror of the kernel /Annots rule (SPEC §3b Annotations, v27):
    FreeText /Contents and Widget /V strings with a valid inline /Rect,
    as (u0, v0, u1, v1, text, hidden) user-space tuples."""
    k = body.find("/Annots")
    if k < 0:
        return ()
    after = k + len("/Annots")
    if after < len(body) and not re.match(
        r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", body[after]
    ):
        return ()
    i = _RPDF_WSRUN_RE.match(body, after).end()
    arr = body
    if body[i : i + 1] != "[":
        r = _RPDF_REFVAL0_RE.match(body, i)
        if not r:
            return ()
        ab = _rpdf_obj_body(text, objs, vobjs, int(r.group(1)))
        if ab is None:
            return ()
        i = _RPDF_WSRUN_RE.match(ab, 0).end()
        if ab[i : i + 1] != "[":
            return ()
        arr = ab
    i += 1
    refs = []
    while i < len(arr):
        i = _RPDF_WSRUN_RE.match(arr, i).end()
        if arr[i : i + 1] == "]":
            break
        r = _RPDF_REFVAL0_RE.match(arr, i)
        if not r:
            break
        refs.append(int(r.group(1)))
        i = r.end()
    out = []
    for num in refs:
        ab = _rpdf_obj_body(text, objs, vobjs, num)
        if ab is None:
            continue
        st = _rpdf_subtype_name(ab)
        if st in _RPDF_ANNOT_TEXT_SUBTYPES:
            txt = _rpdf_key_string(ab, "/Contents")
        elif st == "Widget":
            txt = _rpdf_key_string(ab, "/V")
            if txt is None and not _rpdf_has_key(ab, "/V"):
                # v45 mirror: inherit /V up the /Parent field chain
                # (§12.7.3.3) — the NEAREST /V-bearing ancestor decides
                # (a /Off name is an appearance state, no text, and
                # farther ancestors never apply); depth ≤ 8, cycle-
                # guarded; a dict carrying any token-exact /V stops the
                # walk whether or not it is a string
                seen = {num}
                pb = ab
                for _ in range(8):
                    pn = _rpdf_key_ref(pb, "/Parent")
                    if pn is None or pn in seen:
                        break
                    seen.add(pn)
                    pb = _rpdf_obj_body(text, objs, vobjs, pn)
                    if pb is None:
                        break
                    if _rpdf_has_key(pb, "/V"):
                        txt = _rpdf_key_string(pb, "/V")
                        break
        else:
            continue
        if txt is None:
            continue
        rk = ab.find("/Rect")
        if rk < 0 or (
            rk + 5 < len(ab)
            and not re.match(r"[\x00\t\n\x0c\r ()<>\[\]{}/%]", ab[rk + 5])
        ):
            continue
        rm = _RPDF_RECTVAL_RE.match(ab, rk + 5)
        if rm is None:
            continue
        a, b, c, d = (float(rm.group(g)) for g in range(1, 5))
        fm = re.search(r"/F" + _RPDF_NAMEEND, ab)
        f = _rpdf_key_int(ab[fm.start():], "/F") if fm else None
        out.append(
            (min(a, c), min(b, d), max(a, c), max(b, d),
             _rpdf_atext(txt),
             f is not None and bool(f & 2 or f & 32))
        )
    return tuple(out)


def _rpdf_append_annots(boxes, annots, mb_w, mb_h, rot, cx, cy, cfg):
    """Annotation boxes after the unit's content boxes (v27) — crop shift
    + the rotation corner map with the rect's own extent; returns the
    hidden-suppression count."""
    import math

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
        corners = {
            0: (u0, mb_h - v1, u1, mb_h - v0),
            90: (v0, u0, v1, u1),
            180: (mb_w - u1, v0, mb_w - u0, v1),
            270: (mb_h - v1, mb_w - u1, mb_h - v0, mb_w - u0),
        }[rot]
        boxes.append(
            (
                int(math.floor(corners[0] * sx + 0.5)),
                int(math.floor(corners[1] * sy + 0.5)),
                int(math.floor(corners[2] * sx + 0.5)),
                int(math.floor(corners[3] * sy + 0.5)),
                len(boxes),
                txt,
            )
        )
    return dropped


def _rpdf_content_resources(text: str):
    """{content obj num: (font table, xobject table, geometry)} + object
    intervals + form resolver + {part obj num: group id} + {group id:
    (part list, entry, trigger)}; gated on a literal /ToUnicode,
    /Differences, /ObjStm, /XObject, /Rotate, a 2nd /MediaBox or a
    /Contents array opener or a 2nd %%EOF (pure fast path — absent all,
    identity, no forms, document-default geometry). v16: the sixth return
    value is the set of DEAD definition start offsets (object number
    redefined later), honored only when the document carries ≥ 2 raw
    %%EOF markers (incremental updates, ISO §7.5.6); single-section
    duplicates stay live (pinned)."""
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
        and not _RPDF_CONTENTS_ARR_RE.search(text)
    ):
        return {}, [], None, {}, {}, frozenset(), None
    dflt = _rpdf_mediabox(text)
    objs, intervals = _rpdf_object_map(text)
    dead = (
        frozenset(s for s, e, num in intervals if objs[num] != (s, e))
        if multi_eof
        else frozenset()
    )
    vobjs = _rpdf_objstm_bodies(text, objs) if "/ObjStm" in text else {}
    want_xobj = "/XObject" in text
    want_annots = "/Annots" in text  # v27
    want_oc = "/OCProperties" in text  # v36
    ocoff = _rpdf_off_ocgs(text, objs, vobjs) if want_oc else frozenset()
    by_content = {}
    part_of: dict = {}
    groups: dict = {}
    keys_of_page: dict = {}  # page obj num → scan-unit key (v21)
    seen = set(vobjs)
    for num in list(vobjs) + [m for m in objs if m not in seen]:
        body = _rpdf_obj_body(text, objs, vobjs, num)
        if not _rpdf_first_type_is(body, "Page"):
            continue
        refs = _rpdf_contents_refs(body)
        if not refs:
            continue
        res_p = _rpdf_inherited_resources(text, objs, vobjs, body)
        fonts = _rpdf_font_table(text, objs, vobjs, res_p)
        xobjs = (
            _rpdf_xobject_table(text, objs, vobjs, res_p)
            if want_xobj
            else {}
        )
        geo = _rpdf_page_geometry(
            text, objs, vobjs, body, dflt, "/CropBox" in text
        )
        annots = (
            _rpdf_page_annots(text, objs, vobjs, body) if want_annots else ()
        )
        och = (
            _rpdf_oc_hidden(text, objs, vobjs, res_p, ocoff)
            if want_oc
            else frozenset()
        )
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
            keys_of_page[num] = num  # group units keyed by the page obj
            for r in streamable:
                part_of[r] = num  # a shared part: the LAST page wins
    resolver = _rpdf_form_resolver(text, objs, vobjs, ocoff) if want_xobj else None
    # v21: unit key → tree position; a content object shared by two tree
    # pages keeps the LAST tree listing's position (pinned)
    tree_pos = None
    if keys_of_page:
        ordered = _rpdf_page_tree_order(text, objs, vobjs)
        if ordered:
            tree_pos = {}
            for pos, pnum in enumerate(ordered):
                key = keys_of_page.get(pnum)
                if key is not None:
                    tree_pos[key] = pos
            if not tree_pos:
                tree_pos = None
    return by_content, intervals, resolver, part_of, groups, dead, tree_pos


def _rpdf_apply_cmap(s: str, entry):
    if entry is None:
        return s
    cmap, lengths = entry
    if isinstance(cmap, str):  # v31: identity 2-byte
        if cmap.startswith("u32"):  # v62: 4-byte code points
            return _rpdf_u32_decode(s)
        if cmap[0] == "u":  # v61: UTF-16 pair combining
            return _rpdf_u16_decode(s)
        return _rpdf_id2_decode(s)
    out = []
    i, n = 0, len(s)
    while i < n:
        hit = None
        if ord(s[i]) <= 0xFF:
            for nb in lengths:
                if i + nb > n:
                    continue
                codes = [ord(c) for c in s[i : i + nb]]
                if max(codes) > 0xFF:
                    continue
                acc = 0
                for o in codes:
                    acc = acc * 256 + o
                hit = cmap.get((acc, nb))
                if hit is not None:
                    out.append(hit)
                    i += nb
                    break
        if hit is None:
            out.append(s[i])
            i += 1
    return "".join(out)


def _rpdf_show_decode(s: str, entry, wd):
    """Decoded show text + (units, glyphs, spaces) advance accounting
    (SPEC §3b Advance widths, v25). No width table → the v6
    decoded-length rule verbatim; with one, codes are consumed exactly
    as CMap application does and looked up per code (multi-byte and
    >U+00FF chars take the fallback width)."""
    if wd is None:
        txt = _rpdf_apply_cmap(s, entry)
        return txt, 0.5 * len(txt), len(txt), txt.count(" ")
    wtab, miss = wd[0], wd[1]  # v60: optional 3rd element = "v" tag
    if isinstance(wtab, dict):
        # v33: a CID /W map keys FULL code values, /DW fallback for all
        def _w(code):
            return wtab.get(code, miss)
    else:
        # v25: 256-entry table; multi-byte / >0xFF codes take the fallback
        def _w(code):
            return wtab[code] if code <= 0xFF else miss
    u, g, sp = 0.0, 0, 0
    if entry is None:
        for c in s:
            o = ord(c)
            u += _w(o)
            if o == 32:
                sp += 1
        return s, u, len(s), sp
    cmap, lengths = entry
    if isinstance(cmap, str) and cmap.startswith("u32"):
        # v62: 4-byte code points with a width table — one glyph per
        # code, BMP looks up / astral takes the default (the v61 rule)
        out = []
        i = 0
        while i < len(s):
            code = _rpdf_u32_unit(s, i)
            if code is None:
                o0 = ord(s[i])
                out.append(s[i])
                u += _w(o0)
                g += 1
                if o0 == 32:
                    sp += 1
                i += 1
                continue
            out.append(
                "�" if code > 0x10FFFF or 0xD800 <= code < 0xE000
                else chr(code)
            )
            u += _w(code) if code <= 0xFFFF else miss
            g += 1
            i += 4
        return "".join(out), u, g, sp
    if isinstance(cmap, str):  # v31: identity 2-byte with a width table
        u16 = cmap[0] == "u"  # v61: surrogate pairs combine, one glyph
        out = []
        i = 0
        while i < len(s):
            code = _rpdf_u16_units(s, i)
            if code is not None:
                if u16 and 0xD800 <= code < 0xDC00:
                    lo = _rpdf_u16_units(s, i + 2)
                    if lo is not None and 0xDC00 <= lo < 0xE000:
                        out.append(
                            chr(0x10000 + ((code - 0xD800) << 10)
                                + (lo - 0xDC00))
                        )
                        u += miss  # astral: the pinned default width
                        g += 1
                        i += 4
                        continue
                out.append("�" if 0xD800 <= code < 0xE000 else chr(code))
                u += _w(code)
                g += 1
                # v38: a 2-byte 0x0020 takes NO word spacing (§9.3.3)
                i += 2
            else:
                o0 = ord(s[i])
                out.append(s[i])
                u += _w(o0)
                g += 1
                if o0 == 32:
                    sp += 1
                i += 1
        return "".join(out), u, g, sp
    out = []
    i, n = 0, len(s)
    while i < n:
        hit = None
        o0 = ord(s[i])
        if o0 <= 0xFF:
            for nb in lengths:
                if i + nb > n:
                    continue
                codes = [ord(c) for c in s[i : i + nb]]
                if max(codes) > 0xFF:
                    continue
                acc = 0
                for o in codes:
                    acc = acc * 256 + o
                hit = cmap.get((acc, nb))
                if hit is not None:
                    out.append(hit)
                    u += _w(acc)
                    g += 1
                    # v38: Tw applies to SINGLE-byte code 32 only
                    if acc == 32 and nb == 1:
                        sp += 1
                    i += nb
                    break
        if hit is None:
            out.append(s[i])
            u += _w(o0)
            g += 1
            if o0 == 32:
                sp += 1
            i += 1
    return "".join(out), u, g, sp


def _rpdf_mediabox(text: str):
    m = RPDF_MEDIABOX_RE.search(text)
    if m:
        try:
            a, b, c, d = map(float, m.groups())
        except ValueError:
            return 612.0, 792.0
        if c - a > 0 and d - b > 0:
            return c - a, d - b
    return 612.0, 792.0


def _rpdf_inline_skip(content: str, i: int, since: list) -> int:
    """Inline-image data skip (SPEC §3b Inline images, v8) — the oracle's
    independent form of the kernel's scanner-level rule. ``since`` is the
    top-level operand mirror (operands since the last dispatched operator,
    array contents excluded): the LAST ``L``/``Length`` name immediately
    followed by a non-negative-integer number gives an exact char count;
    otherwise scan for the first boundary ``EI`` (at data start or after
    whitespace, followed by whitespace / delimiter / end) and resume AT it.
    No terminator → the content scan ends."""
    n = len(content)
    if i < n and content[i] in _RPDF_WS:
        i += 1
    ln = -1
    for k in range(len(since) - 1):
        a, b = since[k], since[k + 1]
        if (
            a[0] == "name"
            and a[1] in ("L", "Length")
            and b[0] == "num"
            and b[1] >= 0
            and float(b[1]).is_integer()
        ):
            ln = int(b[1])
    if 0 <= ln and i + ln <= n:
        return i + ln
    j = i
    while True:
        j = content.find("EI", j)
        if j < 0:
            return n
        if (j == i or content[j - 1] in _RPDF_WS) and (
            j + 2 == n
            or content[j + 2] in _RPDF_WS
            or content[j + 2] in "()<>[]{}/%"
        ):
            return j
        j += 1


def _rpdf_tokens(content: str):
    """Pass 1: content → token list. Tokens: ('num', f) ('str', s) ('name', s)
    ('op', s) ('arrs',) ('arre',). Unterminated string ends the scan.

    v8: the tokenizer itself consumes ``ID`` inline-image data (never
    emitted as tokens), tracking a top-level operand mirror — ``since`` =
    operands since the last dispatched operator, array contents excluded —
    solely to resolve the ``/L``/``/Length`` byte count the way the
    kernel's live stack does."""
    toks, i, n = [], 0, len(content)
    since: list = []  # top-level operand mirror for the inline-image /L rule
    arr_open = False
    while i < n:
        ch = content[i]
        if ch in _RPDF_WS or ch in "{}":
            i += 1
            continue
        if ch == "%":
            nl = content.find("\n", i)
            i = n if nl < 0 else nl + 1
            continue
        if ch == "(":
            parts, depth, i = [], 1, i + 1
            terminated = False
            while i < n:
                m = _RPDF_STRCHUNK_RE.match(content, i)
                if m is None:
                    break
                i = m.end()
                esc, paren, plain = m.groups()
                if plain is not None:
                    if "\r" in plain:  # v47: raw EOLs read as LF
                        plain = plain.replace("\r\n", "\n").replace(
                            "\r", "\n"
                        )
                    parts.append(plain)
                elif paren == "(":
                    depth += 1
                    parts.append("(")
                elif paren == ")":
                    depth -= 1
                    if depth == 0:
                        terminated = True
                        break
                    parts.append(")")
                elif esc in ("\n", "\r", "\r\n"):
                    pass  # v47: any-EOL line continuation
                elif esc[0] in "01234567":
                    parts.append(chr(int(esc, 8) % 256))
                else:
                    parts.append(_RPDF_ESC.get(esc, esc))
            toks.append(("str", "".join(parts)))
            if not arr_open:
                since.append(("str", None))
            if not terminated:
                break
            continue
        if ch == "<":
            if content[i : i + 2] == "<<":
                i += 2
                continue
            body = _RPDF_HEXBODY_RE.match(content, i + 1).group(0)
            i = min(i + 1 + len(body) + 1, n)
            hx = "".join(c for c in body if c in "0123456789abcdefABCDEF")
            if len(hx) % 2:
                hx += "0"
            toks.append(
                ("str", "".join(chr(int(hx[k : k + 2], 16)) for k in range(0, len(hx), 2)))
            )
            if not arr_open:
                since.append(("str", None))
            continue
        if ch == ">":
            i += 2 if content[i : i + 2] == ">>" else 1
            continue
        if ch == "[":
            toks.append(("arrs",))
            arr_open = True
            i += 1
            continue
        if ch == "]":
            toks.append(("arre",))
            if arr_open:
                arr_open = False
                since.append(("arr", None))
            i += 1
            continue
        if ch == "/":
            m = _RPDF_RUN_RE.match(content, i + 1)
            nmv = _rpdf_name_unescape(m.group(0)) if m else ""  # v48
            toks.append(("name", nmv))
            if not arr_open:
                since.append(("name", nmv))
            i = i + 1 + (len(m.group(0)) if m else 0)
            continue
        m = _RPDF_RUN_RE.match(content, i)
        if m is None:  # stray delimiter (e.g. an unmatched ')') — skip it
            i += 1
            continue
        run = m.group(0)
        i = m.end()
        if _RPDF_NUM_RE.match(run):
            toks.append(("num", float(run)))
            if not arr_open:
                since.append(("num", float(run)))
        elif run == "ID":  # inline image (v8): data skipped, never tokenized
            i = _rpdf_inline_skip(content, i, since)
        else:
            toks.append(("op", run))
            if not arr_open:
                since = []
    return toks


def _rpdf_atext(s: str):
    """/ActualText replacement decode (SPEC §3b Marked content, v24) —
    independent mirror of the kernel's hand-rolled unit combiner: the
    stdlib utf-16-be codec rejects odd lengths and lone surrogates, and
    latin-1 encoding rejects chars above U+00FF, so every degrade case
    falls back to the raw string exactly like the kernel's. v40: the
    PDF 2.0 UTF-8-BOM form decodes through the stdlib utf-8 codec with
    the same latin-1 byte-validity degrade."""
    if s.startswith("\xef\xbb\xbf"):  # v40: PDF 2.0 UTF-8 text string
        try:
            return s[3:].encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return s
    if not s.startswith("\xfe\xff"):
        return s
    try:
        return s[2:].encode("latin-1").decode("utf-16-be")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return s


def _rpdf_interpret(toks, mb_w: float, mb_h: float, cfg: ExtractConfig,
                    fonts=None, xobjs=None, resolver=None, off=(0.0, 0.0),
                    depth=0, chain=frozenset(), boxes=None, rot=0,
                    crop=(0.0, 0.0), ctm=_RPDF_IDENT, ocnames=frozenset(),
                    bbox=None):
    """Pass 2: token list → (line boxes in canonical top-left coordinates,
    n suppressed /Artifact show ops). ``fonts``: name → CMap entry; Tf
    switches the active map (SPEC §3b Fonts, v6) and show-strings decode
    through it. ``xobjs``/``resolver``/``off``/``depth``/``chain``: form
    XObject invocation via Do (SPEC §3b, v9), recursing over the form's
    pre-tokenized content into the shared ``boxes`` list."""
    import math

    if rot in (90, 270):  # rotated view swaps the scaled page extent (v10)
        sx, sy = cfg.page_w / mb_h, cfg.page_h / mb_w
    else:
        sx, sy = cfg.page_w / mb_w, cfg.page_h / mb_h
    if boxes is None:
        boxes = []
    ox, oy = off
    # v19: fold the CropBox viewport origin into the offsets once — form
    # recursion passes the already-shifted (ox, oy), never crop itself
    ox -= crop[0]
    oy -= crop[1]
    state = {"x": 0.0, "y": 0.0, "lead": 0.0, "fs": 12.0, "in": False,
             "sup": 0, "tc": 0.0, "tw": 0.0,
             "tz": 100.0, "rise": 0.0,
             # v25 advance accounting: units / glyphs / space-codes
             "au": 0.0, "ag": 0, "asp": 0}
    # v20 graphics state: CTM boxed like cmap; q/Q save/restore it plus
    # the text-state params (ISO §8.4.2), capped like the kernel's.
    ctmb = [ctm]
    gstack = []
    gskip = [0]
    # v24 marked content: level stack of (is_artifact, owns_replacement);
    # "art" counts open /Artifact levels; atx = [active replacement text
    # or None, consumed flag]. Not graphics state — q/Q never touch it.
    mcs = []
    atx = [None, False]
    art = [0]
    fonts = fonts or {}
    xobjs = xobjs or {}
    cmap = [None]  # boxed for closure-free mutation alongside `state`
    wdb = [None]  # v25: the active font's (unit-width table, fallback)
    buf = []
    stack = []
    arr = None

    ctm0 = ctm  # v49: form-space clip runs only while the interior CTM
    # is still the entry tuple (cm re-binds; q/Q restore the same object)
    clipb = [None]  # v51: current clip rect (graphics state)
    pathb = [None, False]  # v51: [last re rect, W-pending]

    def flush():
        txt = "".join(buf)
        vmode = cmap[0] is not None and cmap[0][0] in _RPDF_VERT  # v53/v61
        if (
            (bbox is not None or clipb[0] is not None)
            and ctmb[0] is ctm0
            and txt.strip()
        ):
            _px = state["x"]
            _py = state["y"] + state["rise"]
            _cl = clipb[0]
            if (
                bbox is not None
                and not (bbox[0] <= _px <= bbox[2] and bbox[1] <= _py <= bbox[3])
            ) or (
                _cl is not None
                and not (_cl[0] <= _px <= _cl[2] and _cl[1] <= _py <= _cl[3])
            ):
                txt = ""  # v49/v51: clipped — paints nothing, not counted
        if txt.strip():
            # v25: accumulated per-code accounting (identical to the old
            # length formula when no font carries /Widths)
            # v53: vertical mode — /DW2-default advance (1*fs + Tc per
            # glyph), no Tw/Tz/rise, horizontal /W ignored
            if vmode:
                wdv = wdb[0]
                if wdv is not None and len(wdv) == 3:
                    # v60: /W2 per-code vertical advances (Tc per glyph;
                    # Tw/Tz never apply)
                    adv = max(
                        0.0,
                        state["au"] * state["fs"]
                        + state["tc"] * state["ag"],
                    )
                else:
                    adv = max(
                        0.0, (state["fs"] + state["tc"]) * len(txt)
                    )
            else:
                adv = max(
                    0.0,
                    (
                        state["au"] * state["fs"]
                        + state["tc"] * state["ag"]
                        + state["tw"] * state["asp"]
                    )
                    * (state["tz"] / 100.0),
                )
            cm6 = ctmb[0]
            if vmode and cm6 == _RPDF_IDENT:
                u0, u1 = ox + state["x"], ox + state["x"] + state["fs"]
                v0 = oy + state["y"] - adv
                v1 = oy + state["y"]
            elif vmode:
                bx, by = state["x"], state["y"]
                pts = [
                    (bx * cm6[0] + py * cm6[2] + cm6[4],
                     bx * cm6[1] + py * cm6[3] + cm6[5])
                    for py in (by, by - adv)
                ]
                v0 = oy + min(pts[0][1], pts[1][1])
                v1 = oy + max(pts[0][1], pts[1][1])
                u0 = ox + min(pts[0][0], pts[1][0])
                u1 = u0 + state["fs"] * math.hypot(cm6[0], cm6[1])
            elif cm6 == _RPDF_IDENT:
                u0, u1 = ox + state["x"], ox + state["x"] + adv
                v0 = oy + state["y"] + state["rise"]
                v1 = v0 + state["fs"]
            else:
                # v20: baseline start/end through the CTM; axis-aligned
                # anchor box, height scaled by the unit-vertical image
                bx, by = state["x"], state["y"] + state["rise"]
                pts = [
                    (px * cm6[0] + by * cm6[2] + cm6[4],
                     px * cm6[1] + by * cm6[3] + cm6[5])
                    for px in (bx, bx + adv)
                ]
                u0 = ox + min(pts[0][0], pts[1][0])
                u1 = ox + max(pts[0][0], pts[1][0])
                v0 = oy + min(pts[0][1], pts[1][1])
                v1 = v0 + state["fs"] * math.hypot(cm6[2], cm6[3])
            # user→viewer corner map per display rotation (SPEC §3b, v10)
            corners = {
                0: (u0, mb_h - v1, u1, mb_h - v0),
                90: (v0, u0, v1, u1),
                180: (mb_w - u1, v0, mb_w - u0, v1),
                270: (mb_h - v1, mb_w - u1, mb_h - v0, mb_w - u0),
            }[rot]
            boxes.append(
                (
                    int(math.floor(corners[0] * sx + 0.5)),
                    int(math.floor(corners[1] * sy + 0.5)),
                    int(math.floor(corners[2] * sx + 0.5)),
                    int(math.floor(corners[3] * sy + 0.5)),
                    len(boxes),
                    txt,
                )
            )
        buf.clear()
        state["au"] = 0.0
        state["ag"] = 0
        state["asp"] = 0

    def emit_show(raw):
        txt, du, dg, dsp = _rpdf_show_decode(raw, cmap[0], wdb[0])
        buf.append(txt)
        state["au"] += du
        state["ag"] += dg
        state["asp"] += dsp

    def emit_plain(txt):
        # identity accounting: /ActualText replacements, TJ kern spaces
        buf.append(txt)
        state["au"] += 0.5 * len(txt)
        state["ag"] += len(txt)
        state["asp"] += txt.count(" ")

    def tail_nums(k):
        if len(stack) >= k and all(t[0] == "num" for t in stack[-k:]):
            return [t[1] for t in stack[-k:]]
        return None

    for tok in toks:
        kindt = tok[0]
        if kindt in ("num", "str", "name"):
            (arr if arr is not None else stack).append(tok)
            continue
        if kindt == "arrs":
            if arr is None:
                arr = []
            continue
        if kindt == "arre":
            if arr is not None:
                stack.append(("arr", arr))
                arr = None
            continue
        op = tok[1]
        if arr is not None:
            continue  # operators inside an open array: ignored
        if op == "BT":
            if state["in"]:
                flush()
            state.update(x=0.0, y=0.0, lead=0.0)
            state["in"] = True
        elif op == "Do":
            # form XObject invocation (SPEC §3b, v9): in or out of a text
            # object; no flush; invoker state untouched
            if (
                resolver is not None
                and depth < _RPDF_FORM_MAX_DEPTH
                and stack
                and stack[-1][0] == "name"
            ):
                num = xobjs.get(stack[-1][1])
                if num is not None and num not in chain:
                    form = resolver(num)
                    if form is not None:
                        ftoks, ff, fx, fmat, focn, fbb = form
                        _b, sup = _rpdf_interpret(
                            ftoks, mb_w, mb_h, cfg, ff, fx, resolver,
                            (ox, oy), depth + 1,
                            chain | {num}, boxes, rot,
                            ctm=_rpdf_compose(fmat, ctmb[0]), ocnames=focn,
                            bbox=fbb,  # v49
                        )
                        state["sup"] += sup
        elif op == "q":
            # v20: save CTM + text state (ISO §8.4.2); no flush — q itself
            # changes nothing the flush reads
            if len(gstack) < _RPDF_GSTACK_MAX:
                gstack.append((ctmb[0], cmap[0], wdb[0], state["fs"],
                               state["tc"], state["tw"],
                               state["tz"], state["rise"], state["lead"],
                               clipb[0]))  # v51 clip
            else:
                gskip[0] += 1
        elif op == "Q":
            if gskip[0]:
                gskip[0] -= 1  # capped push: absorbed, no restore
            elif gstack:
                if state["in"]:
                    flush()
                (ctmb[0], cmap[0], wdb[0], fs, tc, tw, tz, rise,
                 lead, clipb[0]) = gstack.pop()
                state.update(fs=fs, tc=tc, tw=tw, tz=tz,
                             rise=rise, lead=lead)
            # unbalanced Q: inert (pinned degrade)
        elif op == "cm":
            v = tail_nums(6)
            if v:  # short/non-numeric operand lists: inert
                if state["in"]:
                    flush()
                ctmb[0] = _rpdf_compose(tuple(v), ctmb[0])
        elif op == "re":
            # v51: LAST re of the path wins; changed-CTM rects are
            # unknown-space -> None (the v49 entry-CTM rule)
            v = tail_nums(4)
            if v:
                if ctmb[0] is ctm0:
                    rx, ry, rw, rh = v
                    pathb[0] = (
                        min(rx, rx + rw), min(ry, ry + rh),
                        max(rx, rx + rw), max(ry, ry + rh),
                    )
                else:
                    pathb[0] = None
        elif op in ("W", "W*"):
            pathb[1] = True
        elif op in ("n", "f", "F", "f*", "S", "s", "B", "B*", "b", "b*"):
            # v51: path-paint op applies a pending W and ends the path
            if pathb[1]:
                if pathb[0] is not None:
                    if state["in"]:
                        flush()  # buffered text keeps ITS clip
                    c = clipb[0]
                    clipb[0] = (
                        pathb[0]
                        if c is None
                        else (
                            max(c[0], pathb[0][0]), max(c[1], pathb[0][1]),
                            min(c[2], pathb[0][2]), min(c[3], pathb[0][3]),
                        )
                    )
                pathb[1] = False
            pathb[0] = None
        elif op in ("BMC", "BDC"):
            # v24 marked content (SPEC §3b): tag = FIRST operand iff a
            # name; BDC replacement = string after the LAST ActualText
            # name among the operands; outermost replacement wins
            tag = stack[0][1] if stack and stack[0][0] == "name" else None
            atext = None
            if op == "BDC":
                for k in range(len(stack) - 1):
                    if stack[k] == ("name", "ActualText") and stack[k + 1][0] == "str":
                        atext = stack[k + 1][1]
            owns = False
            if atext is not None and atx[0] is None:
                atx[0] = _rpdf_atext(atext)
                atx[1] = False
                owns = True
            is_art = tag == "Artifact"
            if not is_art and tag == "OC" and ocnames:
                # v36: OFF optional content suppresses like /Artifact;
                # the property = SECOND name operand (inline dicts render)
                if (
                    len(stack) >= 2
                    and stack[1][0] == "name"
                    and stack[1][1] in ocnames
                ):
                    is_art = True
            mcs.append((is_art, owns))
            if is_art:
                art[0] += 1
        elif op == "EMC":
            if mcs:  # unbalanced EMC: inert (pinned degrade)
                is_art, owns = mcs.pop()
                if is_art:
                    art[0] -= 1
                if owns:
                    atx[0] = None
                    atx[1] = False
        elif state["in"]:
            if op == "Tf" and stack and stack[-1][0] == "num":
                flush()
                state["fs"] = stack[-1][1]
                if len(stack) >= 2 and stack[-2][0] == "name":
                    ent = fonts.get(stack[-2][1])
                    cmap[0], wdb[0] = ent if ent else (None, None)
            elif op == "Td":
                v = tail_nums(2)
                if v:
                    flush()
                    state["x"] += v[0]
                    state["y"] += v[1]
            elif op == "TD":
                v = tail_nums(2)
                if v:
                    flush()
                    state["lead"] = -v[1]
                    state["x"] += v[0]
                    state["y"] += v[1]
            elif op == "TL" and stack and stack[-1][0] == "num":
                state["lead"] = stack[-1][1]
            elif op == "Tc" and stack and stack[-1][0] == "num":
                state["tc"] = stack[-1][1]
            elif op == "Tw" and stack and stack[-1][0] == "num":
                state["tw"] = stack[-1][1]
            elif op == "Tz" and stack and stack[-1][0] == "num":
                state["tz"] = stack[-1][1]
            elif op == "Ts" and stack and stack[-1][0] == "num":
                state["rise"] = stack[-1][1]
            elif op == "Tm":
                v = tail_nums(6)
                if v:
                    flush()
                    state["x"], state["y"] = v[4], v[5]
            elif op == "T*":
                flush()
                state["y"] -= state["lead"]
            elif op == "Tj" and stack and stack[-1][0] == "str":
                if art[0]:
                    state["sup"] += 1  # v24: /Artifact suppression
                elif atx[0] is not None:
                    if not atx[1]:  # v24: first show emits the replacement
                        emit_plain(atx[0])
                        atx[1] = True
                else:
                    emit_show(stack[-1][1])
            elif op in ("'", '"') and stack and stack[-1][0] == "str":
                if (
                    op == '"'
                    and len(stack) >= 3
                    and stack[-3][0] == "num"
                    and stack[-2][0] == "num"
                ):
                    # aw ac string " ≡ aw Tw ac Tc string ' (ISO §9.4.3):
                    # spacing set before the flush, persists after (v13)
                    state["tw"] = stack[-3][1]
                    state["tc"] = stack[-2][1]
                flush()
                state["y"] -= state["lead"]
                if art[0]:
                    state["sup"] += 1  # v24: /Artifact suppression
                elif atx[0] is not None:
                    if not atx[1]:
                        emit_plain(atx[0])
                        atx[1] = True
                else:
                    emit_show(stack[-1][1])
            elif op == "TJ" and stack and stack[-1][0] == "arr":
                has_str = any(el[0] == "str" for el in stack[-1][1])
                if art[0]:
                    if has_str:
                        state["sup"] += 1  # v24: /Artifact suppression
                elif atx[0] is not None:
                    if has_str and not atx[1]:
                        emit_plain(atx[0])
                        atx[1] = True
                else:
                    for el in stack[-1][1]:
                        if el[0] == "str":
                            emit_show(el[1])
                        elif el[0] == "num" and el[1] <= -180:
                            emit_plain(" ")
            elif op == "ET":
                flush()
                state["in"] = False
        stack = []
    if state["in"]:
        flush()
    return boxes, state["sup"]


_RPDF_ENCRYPT_RE = re.compile(r"/Encrypt(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")

# --- v59: standard security handler mirror (ISO 32000-1 §7.6.3 /
# 32000-2 §7.6.4, empty user password) — INDEPENDENT primitives: GF(2^8)
# log/antilog multiplication and a row-major AES state walk (the kernel
# vendors a column-major list implementation with a gmul bit loop), a
# compact RC4, and the same spec-mandated derivation steps over hashlib.
_O_ALOG = [1] * 256
for _k in range(1, 256):
    _v = _O_ALOG[_k - 1]
    _v = (_v << 1) ^ (0x11B if _v & 0x80 else 0) ^ _O_ALOG[_k - 1]
    _O_ALOG[_k] = _v & 0xFF  # generator 3: x*2 ^ x
_O_LOG = [0] * 256
for _k in range(255):
    _O_LOG[_O_ALOG[_k]] = _k


def _o_gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _O_ALOG[(_O_LOG[a] + _O_LOG[b]) % 255]


# constant-multiplier tables for the round functions (the mirror of the
# kernel's _M tables — indexing beats the log/alog path per op)
_OM = {c: [_o_gmul(x, c) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)}
_OM2, _OM3 = _OM[2], _OM[3]
_OM9, _OM11, _OM13, _OM14 = _OM[9], _OM[11], _OM[13], _OM[14]


def _o_make_sbox():
    sb = [0] * 256
    for x in range(256):
        b = _O_ALOG[(255 - _O_LOG[x]) % 255] if x else 0
        y = 0x63
        for i in range(5):
            y ^= ((b << i) | (b >> (8 - i))) & 0xFF if i else b
        # fold: y = 0x63 ^ b ^ rotl1 ^ rotl2 ^ rotl3 ^ rotl4
        sb[x] = y & 0xFF
    return sb


_O_SBOX = _o_make_sbox()
_O_INVSBOX = [0] * 256
for _k, _v in enumerate(_O_SBOX):
    _O_INVSBOX[_v] = _k


@__import__("functools").lru_cache(maxsize=256)
def _o_keysched(key: bytes):
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rc = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_O_SBOX[t[1]] ^ rc, _O_SBOX[t[2]], _O_SBOX[t[3]], _O_SBOX[t[0]]]
            rc = _o_gmul(rc, 2)
        elif nk > 6 and i % nk == 4:
            t = [_O_SBOX[b] for b in t]
        w.append([x ^ y for x, y in zip(w[i - nk], t)])
    return w, nr


def _o_aes_enc_block(b: bytes, w, nr: int) -> bytes:
    # row-major 4x4 state: st[r][c] = b[4c+r]
    st = [[b[4 * c + r] for c in range(4)] for r in range(4)]

    def ark(rnd):
        for c in range(4):
            for r in range(4):
                st[r][c] ^= w[4 * rnd + c][r]

    ark(0)
    for rnd in range(1, nr + 1):
        for r in range(4):
            for c in range(4):
                st[r][c] = _O_SBOX[st[r][c]]
        for r in range(1, 4):
            st[r] = st[r][r:] + st[r][:r]
        if rnd != nr:
            for c in range(4):
                a0, a1, a2, a3 = st[0][c], st[1][c], st[2][c], st[3][c]
                st[0][c] = _OM2[a0] ^ _OM3[a1] ^ a2 ^ a3
                st[1][c] = a0 ^ _OM2[a1] ^ _OM3[a2] ^ a3
                st[2][c] = a0 ^ a1 ^ _OM2[a2] ^ _OM3[a3]
                st[3][c] = _OM3[a0] ^ a1 ^ a2 ^ _OM2[a3]
        ark(rnd)
    return bytes(st[r][c] for c in range(4) for r in range(4))


def _o_aes_dec_block(b: bytes, w, nr: int) -> bytes:
    st = [[b[4 * c + r] for c in range(4)] for r in range(4)]

    def ark(rnd):
        for c in range(4):
            for r in range(4):
                st[r][c] ^= w[4 * rnd + c][r]

    ark(nr)
    for rnd in range(nr - 1, -1, -1):
        for r in range(1, 4):
            st[r] = st[r][-r:] + st[r][:-r]
        for r in range(4):
            for c in range(4):
                st[r][c] = _O_INVSBOX[st[r][c]]
        ark(rnd)
        if rnd:
            for c in range(4):
                a0, a1, a2, a3 = st[0][c], st[1][c], st[2][c], st[3][c]
                st[0][c] = _OM14[a0] ^ _OM11[a1] ^ _OM13[a2] ^ _OM9[a3]
                st[1][c] = _OM9[a0] ^ _OM14[a1] ^ _OM11[a2] ^ _OM13[a3]
                st[2][c] = _OM13[a0] ^ _OM9[a1] ^ _OM14[a2] ^ _OM11[a3]
                st[3][c] = _OM11[a0] ^ _OM13[a1] ^ _OM9[a2] ^ _OM14[a3]
    return bytes(st[r][c] for c in range(4) for r in range(4))


def _o_aes_cbc_dec(key: bytes, data: bytes):
    """PDF layout: IV-prefixed, PKCS#7; None on shape failure."""
    if len(data) < 32 or len(data) % 16:
        return None
    w, nr = _o_keysched(key)
    prev, out = data[:16], bytearray()
    for off in range(16, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(
            x ^ y for x, y in zip(_o_aes_dec_block(blk, w, nr), prev)
        )
        prev = blk
    pad = out[-1] if out else 0
    if not 1 <= pad <= 16 or len(out) < pad:
        return None
    return bytes(out[:-pad])


def _o_aes_cbc_enc_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """No-padding CBC encrypt, IV not emitted (the 2.B inner step)."""
    w, nr = _o_keysched(key)
    prev, out = iv, bytearray()
    for off in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[off : off + 16], prev))
        prev = _o_aes_enc_block(blk, w, nr)
        out += prev
    return bytes(out)


def _o_aes_cbc_dec_zero_nopad(key: bytes, data: bytes):
    if len(data) % 16 or not data:
        return None
    w, nr = _o_keysched(key)
    prev, out = b"\x00" * 16, bytearray()
    for off in range(0, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(
            x ^ y for x, y in zip(_o_aes_dec_block(blk, w, nr), prev)
        )
        prev = blk
    return bytes(out)


def _o_rc4(key: bytes, data: bytes) -> bytes:
    S = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    i = j = 0
    out = bytearray()
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out.append(c ^ S[(S[i] + S[j]) & 0xFF])
    return bytes(out)


_O_CRYPT_PAD = bytes.fromhex(
    "28bf4e5e4e758a41640"
    "04e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _o_file_key(o: bytes, p: int, id0: bytes, r: int, nb: int,
                enc_md: bool = True) -> bytes:
    import struct as _st

    h = hashlib.md5(
        _O_CRYPT_PAD + o[:32] + _st.pack("<i", p) + id0
        + (b"" if enc_md or r < 4 else b"\xff\xff\xff\xff")
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:nb]).digest()
    return h[:nb]


def _o_objkey(key: bytes, num: int, aes: bool) -> bytes:
    import struct as _st

    ext = _st.pack("<I", num)[:3] + b"\x00\x00" + (b"sAlT" if aes else b"")
    return hashlib.md5(key + ext).digest()[: min(len(key) + 5, 16)]


import functools as _functools


@_functools.lru_cache(maxsize=64)
def _o_r6_hash(pwd: bytes, salt: bytes) -> bytes:
    k = hashlib.sha256(pwd + salt).digest()
    i = 0
    while True:
        e = _o_aes_cbc_enc_raw(k[:16], k[16:32], (pwd + k) * 64)
        m = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[m](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _o_sint(body: str, key: str):
    m = re.search(
        re.escape(key)
        + r"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%])[\x00\t\n\x0c\r ]*(-?\d+)",
        body,
    )
    return int(m.group(1)) if m else None


def _o_strbytes(body: str, key: str):
    v = _rpdf_key_string(body, key)
    if v is None:
        return None
    try:
        return v.encode("latin-1")
    except UnicodeEncodeError:
        return None


def _o_lit_span(s: str, i: int):
    """Span end of the literal string at s[i]=='(' (escape/nesting-aware),
    for the rebuild scan."""
    depth, i = 1, i + 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\":
            i += 2
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return n


def _rpdf_decrypt(text: str):
    """Mirror of the kernel's _decrypt_document: → decrypted text or
    None (refusal)."""
    objs, intervals = _rpdf_object_map(text)
    enc_num = None
    for em in re.finditer(
        r"/Encrypt[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+\d+"
        r"[\x00\t\n\x0c\r ]+R",
        text,
    ):
        enc_num = int(em.group(1))  # last wins
    if enc_num is None or enc_num not in objs:
        return None
    eb = text[objs[enc_num][0] : objs[enc_num][1]]
    if _rpdf_key_name(eb, "/Filter") != "Standard":
        return None
    v = _rpdf_key_int(eb, "/V") or 0
    r = _rpdf_key_int(eb, "/R") or 0
    length = _rpdf_key_int(eb, "/Length") or 40
    p = _o_sint(eb, "/P")
    o = _o_strbytes(eb, "/O")
    u = _o_strbytes(eb, "/U")
    if p is None or o is None or u is None:
        return None
    # last /ID first element
    id0 = b""
    for im in re.finditer(
        r"/ID[\x00\t\n\x0c\r ]*\[[\x00\t\n\x0c\r ]*", text
    ):
        sv = _rpdf_string_at(text, im.end())
        if sv is not None:
            try:
                id0 = sv.encode("latin-1")
            except UnicodeEncodeError:
                pass
    enc_md = True
    km = eb.find("/EncryptMetadata")
    if km >= 0:
        enc_md = "false" not in eb[km : km + 26]
    aes = False
    if v in (4, 5) and (
        _rpdf_key_name(eb, "/StmF") != "StdCF"
        or _rpdf_key_name(eb, "/StrF") != "StdCF"
    ):
        return None
    if v in (1, 2):
        nb = 5 if v == 1 else max(5, min(16, length // 8))
        key = _o_file_key(o, p, id0, r, nb, enc_md)
        if r == 2:
            ok = _o_rc4(key, _O_CRYPT_PAD) == u[:32]
        else:
            x = _o_rc4(key, hashlib.md5(_O_CRYPT_PAD + id0).digest())
            for it in range(1, 20):
                x = _o_rc4(bytes(b ^ it for b in key), x)
            ok = x == u[:16]
    elif v == 4:
        cf = _rpdf_key_dict(eb, "/CF", text, objs, {})
        stdcf = (
            _rpdf_key_dict(cf, "/StdCF", text, objs, {})
            if cf is not None
            else None
        )
        cfm = _rpdf_key_name(stdcf, "/CFM") if stdcf is not None else None
        if cfm == "AESV2":
            aes = True
        elif cfm != "V2":
            return None
        nb = 16 if aes else max(5, min(16, length // 8))
        key = _o_file_key(o, p, id0, r, nb, enc_md)
        x = _o_rc4(key, hashlib.md5(_O_CRYPT_PAD + id0).digest())
        for it in range(1, 20):
            x = _o_rc4(bytes(b ^ it for b in key), x)
        ok = x == u[:16]
    elif v == 5:
        ue = _o_strbytes(eb, "/UE")
        ok = False
        key = None
        if len(u) >= 48 and ue is not None and len(ue) >= 32:
            if _o_r6_hash(b"", u[32:40]) == u[:32]:
                key = _o_aes_cbc_dec_zero_nopad(
                    _o_r6_hash(b"", u[40:48]), ue[:32]
                )
                ok = key is not None
        aes = True
    else:
        return None
    if not ok:
        return None

    def dec_body(body: str, okey: bytes) -> str:
        k = body.find("stream")
        span = None
        sdict_end = len(body)
        if k >= 0:
            after = k + 6
            if body[after : after + 2] == "\r\n":
                cs = after + 2
            elif body[after : after + 1] == "\n":
                cs = after + 1
            else:
                cs = None
            if cs is not None:
                end = body.find("endstream", cs)
                if end >= 0:
                    span = (cs, end)
                    sdict_end = k
        head = body[:sdict_end]
        if span is not None and _rpdf_first_type_is(head, "XRef"):
            return body
        out, i, n2 = [], 0, len(head)
        while i < n2:
            c = head[i]
            if c == "(":
                e2 = _o_lit_span(head, i)
                val = _rpdf_string_at(head, i)
                try:
                    raw = val.encode("latin-1") if val is not None else None
                except UnicodeEncodeError:
                    raw = None
                d = (
                    (_o_aes_cbc_dec(okey, raw) if aes else _o_rc4(okey, raw))
                    if raw is not None
                    else None
                )
                out.append(head[i:e2] if d is None else "<" + d.hex() + ">")
                i = e2
            elif c == "<" and head[i : i + 2] != "<<":
                j2 = head.find(">", i + 1)
                if j2 < 0:
                    out.append(head[i:])
                    break
                val = _rpdf_string_at(head, i)
                raw = val.encode("latin-1") if val is not None else b""
                d = _o_aes_cbc_dec(okey, raw) if aes else _o_rc4(okey, raw)
                out.append(head[i : j2 + 1] if d is None else "<" + d.hex() + ">")
                i = j2 + 1
            elif c == "<":
                out.append("<<")
                i += 2
            else:
                nxt = [x for x in (head.find("(", i), head.find("<", i)) if x >= 0]
                j2 = min(nxt) if nxt else n2
                out.append(head[i:j2])
                i = j2
        new_head = "".join(out)
        if span is None:
            return new_head
        cs, end = span
        data = body[cs:end].encode("latin-1")
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data[-1:] in (b"\n", b"\r"):
            data = data[:-1]
        d = _o_aes_cbc_dec(okey, data) if aes else _o_rc4(okey, data)
        if d is None:
            return body
        return (
            new_head + body[sdict_end:cs] + d.decode("latin-1") + "\n"
            + body[end:]
        )

    out, last = [], 0
    for s0, e0, num in intervals:
        out.append(text[last:s0])
        body = text[s0:e0]
        if num == enc_num:
            out.append(body)
        else:
            okey = key if v == 5 else _o_objkey(key, num, aes)
            out.append(dec_body(body, okey))
        last = e0
    out.append(text[last:])
    return "".join(out)


def _oracle_realpdf(text: str, cfg: ExtractConfig):
    if _RPDF_ENCRYPT_RE.search(text):
        dec = _rpdf_decrypt(text)  # v59: empty-user-password decrypt
        if dec is None:
            return [], 1  # anything else: the v11 whole-payload refusal
        text = dec
    mb_w, mb_h = _rpdf_mediabox(text)
    res_by_obj, obj_intervals, resolver, part_of, groups, dead, tree_pos = (
        _rpdf_content_resources(text)
    )
    obj_starts = [iv[0] for iv in obj_intervals]
    units, dropped = [], 0  # (unit key, kept boxes) in scan order (v21)
    pending, assembled = {}, set()
    min_pos = 0
    # matching '<<' for every '>>' token, ONE regex pass over the whole
    # payload (leftmost non-overlapping tokenization — kernel does the same
    # with a char scanner); per-stream lookup = bisect on the token starts.
    # The per-stream prefix rescan this replaces was O(doc × streams).
    _close_pos, _close_match, _stk = [], [], []
    for tm in re.finditer(r"<<|>>", text):
        if tm.group() == "<<":
            _stk.append(tm.start())
        else:
            _close_pos.append(tm.start())
            _close_match.append(_stk.pop() if _stk else -1)
    for m in _RPDF_STREAM_RE.finditer(text):
        if m.start() < min_pos:
            continue  # inside a previously consumed stream body
        if not text[: m.start()].rstrip(_RPDF_WS).endswith(">>"):
            continue
        end = text.find("endstream", m.end())
        if end < 0:
            dropped += 1
            break
        k = _bisect.bisect_right(_close_pos, m.start() - 2)
        d0 = _close_match[k - 1] if k else -1
        params = text[d0 : m.start()] if d0 >= 0 else ""
        min_pos = end + len("endstream")
        content = text[m.end() : end]
        onum = None
        if res_by_obj or part_of or dead:
            oi = _bisect.bisect_right(obj_starts, m.end()) - 1
            if oi >= 0 and m.end() < obj_intervals[oi][1]:
                if obj_intervals[oi][0] in dead:
                    continue  # superseded by an update (v16): inert bytes
                onum = obj_intervals[oi][2]
        gid = part_of.get(onum) if onum is not None else None
        if gid is not None:
            # multi-part page content (v14) — mirror of the kernel rule:
            # decode-and-stash each part; assemble (array order, newline-
            # joined) and interpret once at the group's trigger part
            ok = not (
                resolver is not None and _rpdf_subtype_is(params, "Form")
            )
            if ok and "/Filter" in params:
                decoded = _rpdf_decode_stream(content, params)
                if decoded is None:
                    dropped += 1
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
            boxes, sup = _rpdf_interpret(
                _rpdf_tokens(content), pw, ph, cfg, fonts, xobjs,
                resolver, rot=rot, crop=(cx, cy), ocnames=och,
            )
            dropped += sup
            if annots:  # v27: annotation boxes follow the content boxes
                dropped += _rpdf_append_annots(
                    boxes, annots, pw, ph, rot, cx, cy, cfg
                )
            kept = []
            for b in boxes:
                if b[3] <= cfg.header_y or b[1] >= cfg.footer_y:
                    dropped += 1
                else:
                    kept.append(b)
            units.append((gid, kept))
            continue
        if resolver is not None and _rpdf_subtype_is(params, "Form"):
            continue  # form XObject: never a page, renders only via Do (v9)
        if "/Filter" in params:
            decoded = _rpdf_decode_stream(content, params)
            if decoded is None:
                dropped += 1
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
        boxes, sup = _rpdf_interpret(
            _rpdf_tokens(content), pw, ph, cfg, fonts, xobjs, resolver,
            rot=rot, crop=(cx, cy), ocnames=och,
        )
        dropped += sup
        if annots:  # v27: annotation boxes follow the content boxes
            dropped += _rpdf_append_annots(boxes, annots, pw, ph, rot, cx, cy, cfg)
        kept = []
        for b in boxes:
            if b[3] <= cfg.header_y or b[1] >= cfg.footer_y:
                dropped += 1
            else:
                kept.append(b)
        units.append((onum, kept))
    # groups whose trigger never materialized (truncated tail): page lost
    dropped += sum(1 for g in pending if g not in assembled)
    # v21 page-tree ordering: tree-mapped units in tree order, unmapped
    # units after in scan order; no resolvable tree → scan order stands
    if tree_pos:
        m_ix = sorted(
            (tree_pos[k], i) for i, (k, _b) in enumerate(units) if k in tree_pos
        )
        idx = [i for _p, i in m_ix] + [
            i for i, (k, _b) in enumerate(units) if k not in tree_pos
        ]
    else:
        idx = range(len(units))
    pages = {}
    for page, i in enumerate(idx):
        for b in units[i][1]:
            pages.setdefault(page, []).append(b)

    spans = []
    for p in sorted(pages):
        if cfg.layout_mode == "walk":
            ordered = _oracle_layout_walk(pages[p], cfg.page_w)
        else:
            ordered = _oracle_xycut(pages[p], cfg)
        if cfg.merge_paragraphs:
            ordered = _oracle_para_merge(ordered, cfg)
        for x0, y0, x1, y1, i, t in ordered:
            clean = _norm(t)
            if len(clean) < cfg.min_chars:
                if clean:
                    dropped += 1
                continue
            spans.append(("para", clean, 1.0, [x0, y0, x1, y1]))
    return spans, dropped


def _oracle_plain(text: str, cfg: ExtractConfig):
    spans, dropped = [], 0
    for para in re.split(r"\n\s*\n", text):
        clean = _norm(para)
        if not clean:
            continue
        if len(clean) < cfg.min_chars:
            dropped += 1
            continue
        spans.append(("para", clean, 1.0, None))
    return spans, dropped


_FORMULA_RE = re.compile(r"^\$\$(.+)\$\$$", re.DOTALL)


def _oracle_formula_pass(raw):
    """Independent mirror of the formula post-pass (SPEC §7): regex closed
    form instead of the kernel's prefix/suffix walk."""
    out = []
    for k, t, s, b in raw:
        m = _FORMULA_RE.match(t) if k == "para" else None
        if m and m.group(1).strip():
            out.append(("formula", m.group(1).strip(), s, b))
        else:
            out.append((k, t, s, b))
    return out


def oracle_extract(text, cfg: ExtractConfig = DEFAULT_CONFIG):
    """One payload → dict(kind, spans, extracted_text, n_spans, n_dropped).

    spans entries: (span_idx, kind, text, score, bbox|None).
    """
    kind = oracle_sniff(text)
    if text is not None and len(text) > cfg.max_payload_chars:
        text = text[: cfg.max_payload_chars]  # row-level skew guard (SPEC)
    if text is None:
        raw, dropped = [], 0
    elif kind == "pdf":
        raw, dropped = _oracle_pdf(text, cfg)
    elif kind == "pdf_real":
        raw, dropped = _oracle_realpdf(text, cfg)
    elif kind == "html":
        raw, dropped = _oracle_html(text, cfg)
    else:
        raw, dropped = _oracle_plain(text, cfg)
    if cfg.detect_formula:
        raw = _oracle_formula_pass(raw)
    spans = [(i, k, t, s, b) for i, (k, t, s, b) in enumerate(raw)]
    extracted = re.sub(r"\n{3,}", "\n\n", cfg.para_sep.join(s[2] for s in spans))
    return {
        "kind": kind,
        "spans": spans,
        "extracted_text": extracted,
        "n_spans": len(spans),
        "n_dropped": dropped,
    }
