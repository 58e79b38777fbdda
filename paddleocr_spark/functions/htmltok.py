"""Lightweight HTML tag-tree tokenizer + boilerplate-scored block segmentation.

This is the engine's *detect* analog (SURVEY.md §2.9): where the reference runs
a DB segmentation model over a probability map and keeps boxes via
``thresh/box_thresh/min_size/max_candidates``
(/root/reference/ppocr/postprocess/db_postprocess.py:29-256), we scan an HTML
payload in ONE regex pass (no DOM library — O(tokens), honoring "zero per-row
Python" in spirit), segment it into contiguous candidate blocks at block-level
tag boundaries, and keep blocks by text-density/link-density predicates
(Boilerpipe/Readability-style):

    kept iff  NOT in a boilerplate container (nav/header/footer/aside/.sidebar)
          AND total_chars >= cfg.min_chars            (min_size=3 analog)
          AND 2*link_chars <= total_chars             (link-density <= 0.5)
    score = 1 - link_chars/total_chars                (box_score analog,
            /root/reference/ppocr/postprocess/db_postprocess.py:189-225)

Candidates are capped at ``cfg.max_candidates`` (db_postprocess.py:38).
Malformed/truncated HTML never raises — it yields whatever blocks parse,
possibly none (mirrors DecodeImage returning None on bad bytes,
/root/reference/ppocr/data/imaug/operators.py:56-57).

Style tokens (<b>, <i>, ...) are inline: their text merges into the block with
the tags stripped (mirrors the scrub at
/root/reference/ppstructure/predict_system.py:210-231).

Tables are parsed directly from the tag stream (the HTML source IS the ground
truth, so no model analog is needed — SURVEY.md §2.9 table row): one block of
kind='table', text = rows joined by newline, cells joined by ' | '
(get_pred_html template-fill analog, /root/reference/ppstructure/table/matcher.py:104-149).
"""

from __future__ import annotations

import re
from typing import List, Optional

from ..config import ExtractConfig, DEFAULT_CONFIG
from .textnorm import decode_entities, collapse_ws, strip_invisible

# one-pass token scan: comments | tags (quote-aware) | bogus tags | text runs.
# v17: a quoted attribute value may contain '>' (HTML5 tag-open state) — the
# second alternative consumes "..." / '...' runs whole; a tag whose quote
# never closes before its '>' falls back to the pre-v17 first-'>' rule
# (third alternative). Alternatives are first-char-disjoint → linear scan.
_TOKEN_RE = re.compile(
    r"<!--.*?-->|<!--.*|<[^>\"']*(?:(?:\"[^\"]*\"|'[^']*')[^>\"']*)*>"
    r"|<[^>]*>|[^<]+", re.DOTALL
)
_TAG_NAME_RE = re.compile(r"^<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)")
# v17: double-quoted, single-quoted, or unquoted (HTML5) class values
_CLASS_RE = re.compile(
    r"""class\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""", re.IGNORECASE
)
# v58: id attribute — same first-match shape as _CLASS_RE with a
# lookbehind so grid=/data-id= never match (pinned); value case-sensitive
_ID_RE = re.compile(
    r"""(?<![\w-])id\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>"']+))""",
    re.IGNORECASE,
)


def _class_value(m) -> str:
    a, b, c = m.groups()
    return a if a is not None else (b if b is not None else c)


# --- v58: same-document <style> sheets (SPEC §2.2 Stylesheet hiding) ------
# The det-stage boilerplate analog one level up: a class/id hidden by a
# document stylesheet hides every element carrying it. Scope is PINNED
# narrow — exactly what a deterministic extractor can honor:
#   - lowercase <style ...> ... </style> regions only (uppercase variants
#     keep the pre-v58 degrade: rules not applied, content still skipped)
#   - top-level rules only; anything inside an @-rule block (@media,
#     @supports, …) is conditional and stays unapplied
#   - selector lists split on ','; a selector applies iff it is EXACTLY
#     one simple class (.name) or id (#name) selector — descendant
#     combinators, pseudo-classes (:hover), tag-qualified (div.cls),
#     attribute selectors are near-misses that keep their content rendered
#   - a rule hides iff its declarations hide under the SAME v29
#     declaration-split rule as inline style= (_style_hides)
# Sheets apply document-wide (before and after their position, and from
# inside hidden/skipped subtrees) — the pre-scan runs before the token
# walk, so position never matters.
_STYLE_OPEN_RE = re.compile(r"<style(?=[ \t\n\r\x0c/>])[^>]*>|<style>")
_STYLE_CLOSE_RE = re.compile(r"</style[ \t\n\r\x0c]*>")
_CSS_COMMENT_RE = re.compile(r"/\*.*?\*/", re.DOTALL)
_SIMPLE_SEL_RE = re.compile(r"([.#])([A-Za-z_][-A-Za-z0-9_]*)\Z")


def _css_hidden(css: str, classes: set, ids: set) -> None:
    """Collect hidden class/id names from one stylesheet body."""
    css = _CSS_COMMENT_RE.sub("", css)
    depth = 0
    sel_start = 0
    cur_sel = None
    decl_start = 0
    i, n = 0, len(css)
    while i < n:
        c = css[i]
        if c == "{":
            if depth == 0:
                cur_sel = css[sel_start:i]
                decl_start = i + 1
            depth += 1
        elif c == "}":
            if depth > 0:
                depth -= 1
                if depth == 0 and cur_sel is not None:
                    sel = cur_sel.strip()
                    # @-rule bodies (incl. nested braces) are skipped
                    # wholesale by the depth gate; guard the head too
                    if sel and not sel.startswith("@") and _style_hides(
                        css[decl_start:i]
                    ):
                        for part in cur_sel.split(","):
                            m = _SIMPLE_SEL_RE.match(part.strip())
                            if m is not None:
                                (classes if m.group(1) == "." else ids).add(
                                    m.group(2)
                                )
                    cur_sel = None
            sel_start = i + 1
        i += 1


def stylesheet_hidden(text: str):
    """Document → (hidden classes, hidden ids) from every lowercase
    <style> region; unterminated style runs to EOF (rawtext semantics)."""
    classes: set = set()
    ids: set = set()
    pos = 0
    while True:
        m = _STYLE_OPEN_RE.search(text, pos)
        if m is None:
            break
        cm = _STYLE_CLOSE_RE.search(text, m.end())
        if cm is None:
            _css_hidden(text[m.end() :], classes, ids)
            break
        _css_hidden(text[m.end() : cm.start()], classes, ids)
        pos = cm.end()
    return classes, ids

# tags that terminate the current block when opened or closed
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li tr pre blockquote article section main nav "
    "header footer aside ul ol table title br hr td th "
    "details summary dialog "  # v34: all render as blocks
    # v41: the rest of the UA-stylesheet display:block set (HTML5
    # "Rendering" §15.3.2 + Chrome html.css) — each starts a new line
    # in every browser, so gluing its text to the neighbour block is a
    # rendering error.  dt/dd keep kind 'para' (no li counter — pinned).
    "dl dt dd figure figcaption address fieldset legend form hgroup "
    "menu dir center search "
    # v42: legacy pre-formatted block elements (HTML Rendering §15.3.4:
    # listing/plaintext/xmp render display:block + white-space:pre).
    # xmp/plaintext additionally switch the tokenizer to RAWTEXT /
    # PLAINTEXT state — tag-looking content inside renders literally.
    "listing xmp plaintext".split()
)
# void tags: never pushed on the open-tag stack
VOID_TAGS = frozenset("br hr img input meta link source wbr area base col embed".split())

# v44: table-structure tags keep their own table-mode dispatch — they are
# never cell-internal block boundaries
_TBL_STRUCT_TAGS = frozenset("table tr td th thead tbody tfoot caption".split())

# v26: subtrees a browser does not render as page content (script/style as
# before, plus form controls and non-rendered embedded/fallback content —
# the Boilerpipe/trafilatura form-strip rule; SPEC §2.2)
SKIP_TAGS = frozenset(
    "script style select datalist textarea iframe noscript noframes"
    " noembed template".split()
)
# v46: inline SVG is foreign graphics — its <text>/<title>/<desc> content
# is canvas labeling, excluded from innerText by every browser (the
# traversal covers HTML elements only) and stripped by Readability/
# trafilatura alike. Unlike the skip set, svg is INLINE: entering and
# leaving it never flushes (an icon svg must not split its paragraph),
# and EVERY interior tag is inert until the matching close — interior
# structure is a foreign document, not HTML (<foreignObject> HTML is
# dropped with it, pinned degrade). Tracked by a dedicated nesting
# counter, not the skip counter.
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# v39: media elements whose DESCENDANTS are legacy fallback a supporting
# browser never renders as page content (track/source are void)
_MEDIA_HIDDEN = frozenset({
    "audio", "video", "canvas",
    # v46: MathML renders inline (x+2 IS page text) but the UA
    # stylesheet hides <annotation> and <annotation-xml> (they carry
    # TeX/XML duplicates of the rendered presentation). The tag-name
    # scan stops at the hyphen, so "annotation" covers annotation-xml
    # too (pinned).
    "annotation",
})

# v29: hidden-content detection (SPEC §2.2). An element is hidden iff its
# attributes carry the HTML5 boolean `hidden` (any or no value), or an
# inline `style` whose declarations include display:none or
# visibility:hidden (ws-tolerant, trailing !important allowed). The scan
# is attribute-EXACT over the lowercased tag token — class="hidden",
# data-hidden, aria-hidden and text values containing the word never hide.
_ATTR_NAME_END = " \t\n\r\x0c>/=\"'"
_IMPORTANT_RE = re.compile(r"\s*!\s*important\s*$")


def _style_hides(val: str) -> bool:
    # declaration-split rule (SPEC §2.2 v29): split on ';', partition each
    # declaration at its FIRST ':', strip a trailing !important
    for decl in val.split(";"):
        prop, colon, v = decl.partition(":")
        if not colon:
            continue
        prop = prop.strip()
        if prop != "display" and prop != "visibility":
            continue
        v = _IMPORTANT_RE.sub("", v).strip()
        if (prop == "display" and v == "none") or (
            prop == "visibility" and v == "hidden"
        ):
            return True
    return False


def _hidden_in_tag(low: str) -> bool:
    """Attribute walk over a lowercased opening-tag token: skip ws and
    '/', name = maximal run outside ws/>/=/quotes (empty → one-char
    advance, the pinned junk degrade), optional = value (quoted to the
    matching quote or token end, else unquoted to ws/'>')."""
    m = _TAG_NAME_RE.match(low)
    if m is None:
        return False
    i = m.end()
    n = len(low)
    while i < n:
        c = low[i]
        if c in " \t\n\r\x0c/":
            i += 1
            continue
        if c == ">":
            return False
        j = i
        while j < n and low[j] not in _ATTR_NAME_END:
            j += 1
        if j == i:  # quote/'=' junk where a name should start
            i += 1
            continue
        name = low[i:j]
        i = j
        k = i
        while k < n and low[k] in " \t\n\r\x0c":
            k += 1
        val = None
        if k < n and low[k] == "=":
            k += 1
            while k < n and low[k] in " \t\n\r\x0c":
                k += 1
            if k < n and (low[k] == '"' or low[k] == "'"):
                e = low.find(low[k], k + 1)
                if e < 0:
                    val, i = low[k + 1 :], n
                else:
                    val, i = low[k + 1 : e], e + 1
            else:
                e = k
                while e < n and low[e] not in " \t\n\r\x0c>":
                    e += 1
                val, i = low[k:e], e
        if name == "hidden" or name == "popover":
            # v55: a popover renders only after showPopover() — static
            # extraction sees the UA [popover]{display:none} state.
            # popovertarget/popovertargetaction are name-exact misses.
            return True
        if name == "style" and val and _style_hides(val):
            return True
    return False


def _open_in_tag(low: str) -> bool:
    """Token-exact boolean ``open`` attribute (v34, SPEC §2.2 Open-gated
    elements) — the same attribute walk as ``_hidden_in_tag``; presence
    with ANY value (or none) counts: ``open="false"`` is OPEN (the HTML
    boolean-attribute rule). ``data-open`` / ``class="open"`` never
    match (name-exact)."""
    m = _TAG_NAME_RE.match(low)
    if m is None:
        return False
    i = m.end()
    n = len(low)
    while i < n:
        c = low[i]
        if c in " \t\n\r\x0c/":
            i += 1
            continue
        if c == ">":
            return False
        j = i
        while j < n and low[j] not in _ATTR_NAME_END:
            j += 1
        if j == i:  # junk char where a name should start
            i += 1
            continue
        name = low[i:j]
        if name == "open":
            return True
        i = j
        k = i
        while k < n and low[k] in " \t\n\r\x0c":
            k += 1
        if k < n and low[k] == "=":
            k += 1
            while k < n and low[k] in " \t\n\r\x0c":
                k += 1
            if k < n and (low[k] == '"' or low[k] == "'"):
                e = low.find(low[k], k + 1)
                i = n if e < 0 else e + 1
            else:
                e = k
                while e < n and low[e] not in " \t\n\r\x0c>":
                    e += 1
                i = e
    return False


def _shadowroot_in_tag(low: str) -> bool:
    """v50: an attribute named ``shadowrootmode`` whose value is exactly
    ``open`` or ``closed`` (the HTML streaming-parser rule — any other
    value leaves an ordinary inert template). Same attribute walk as
    ``_hidden_in_tag``; a valueless ``shadowrootmode`` does not match."""
    m = _TAG_NAME_RE.match(low)
    if m is None:
        return False
    i = m.end()
    n = len(low)
    while i < n:
        c = low[i]
        if c in " \t\n\r\x0c/":
            i += 1
            continue
        if c == ">":
            return False
        j = i
        while j < n and low[j] not in _ATTR_NAME_END:
            j += 1
        if j == i:
            i += 1
            continue
        name = low[i:j]
        i = j
        k = i
        while k < n and low[k] in " \t\n\r\x0c":
            k += 1
        val = None
        if k < n and low[k] == "=":
            k += 1
            while k < n and low[k] in " \t\n\r\x0c":
                k += 1
            if k < n and (low[k] == '"' or low[k] == "'"):
                e = low.find(low[k], k + 1)
                if e < 0:
                    val, i = low[k + 1 :], n
                else:
                    val, i = low[k + 1 : e], e + 1
            else:
                e = k
                while e < n and low[e] not in " \t\n\r\x0c>":
                    e += 1
                val, i = low[k:e], e
        if name == "shadowrootmode" and val in ("open", "closed"):
            return True
    return False


# Parsed-tag cache: token string → (closing, name, self_closing, class_tokens).
# Tag tokens repeat heavily within and across payloads (<p>, </p>, <b>, …), so
# one dict probe replaces regex match + groups + lower + endswith + class
# sniff.  Content-keyed (the full token IS the key) → deterministic at any
# parallelism; capped on BOTH entry count and entry length — tag tokens match
# <[^>]*> and can be payload-sized, so without the length bound a corpus of
# many distinct attribute-heavy tags could pin ~entry_count × token_len bytes
# per executor Python worker. Long tags are rare and gain nothing from
# caching (the parse is O(len) either way), so they're simply not cached.
_TAG_CACHE: dict = {}
_TAG_CACHE_MAX = 1 << 16
_TAG_CACHE_MAX_TOKEN_LEN = 256


def _parse_tag(tok: str):
    info = _TAG_CACHE.get(tok)
    if info is None:
        tm = _TAG_NAME_RE.match(tok)
        if tm is None:
            info = (False, None, False, None, False, False, None)
        else:
            slash, name = tm.groups()
            closing = slash == "/"
            lname = name.lower()
            class_tokens = None
            id_val = None
            hidden = False
            has_open = False
            if not closing and "=" in tok:
                m = _CLASS_RE.search(tok)
                if m:
                    class_tokens = tuple(_class_value(m).split())
                m = _ID_RE.search(tok)  # v58: stylesheet #id matching
                if m:
                    id_val = _class_value(m)
            if not closing:
                # v29 gate: the attr walk only runs when the token can
                # possibly hide (case-blind substring probe)
                low = tok.lower()
                if (
                    "hidden" in low
                    or "popover" in low  # v55: UA [popover]{display:none}
                    or ("style" in low and "none" in low)
                ):
                    hidden = _hidden_in_tag(low)
                # v34: the `open` walk only matters on the gated tags
                if lname in ("details", "dialog") and "open" in low:
                    has_open = _open_in_tag(low)
                # v50: a template whose shadowrootmode is open/closed is
                # a declarative shadow root — content renders. The slot
                # is shared with v34's has_open (disjoint tag sets).
                elif lname == "template" and "shadowrootmode" in low:
                    has_open = _shadowroot_in_tag(low)
            info = (
                closing,
                lname,
                not closing and tok.endswith("/>"),
                class_tokens,
                hidden,
                has_open,
                id_val,  # v58
            )
        if len(tok) <= _TAG_CACHE_MAX_TOKEN_LEN and len(_TAG_CACHE) < _TAG_CACHE_MAX:
            _TAG_CACHE[tok] = info
    return info


def html_blocks(text: str, cfg: ExtractConfig = DEFAULT_CONFIG):
    """Scan *text* → (candidate blocks, n_dropped) in document order.

    Returns ``(spans, n_dropped)`` where spans is a list of
    ``(kind, text, score)`` for KEPT blocks and n_dropped counts candidate
    blocks (non-empty text) that the keep predicate rejected.
    """
    # open-tag stack entries:
    #   (tagname, is_boiler, is_link, is_heading, is_pre, is_li, is_hidden)
    # context is tracked by clamped counters; lenient close pops decrement them
    stack: List[tuple] = []
    boiler_depth = 0
    link_depth = 0
    skip_depth = 0  # inside a skipped (non-rendered) subtree
    svg_depth = 0  # v46: inside a foreign svg subtree (inline, no flush)
    hidden_depth = 0  # v29: inside a hidden element (attr/display:none)
    heading_depth = 0
    pre_depth = 0
    li_depth = 0
    # v34: open-gated <details> — cdet counts open CLOSED-details
    # entries, vsum counts visible disclosure summaries; text shows iff
    # cdet <= vsum (the counter form of the nesting semantics).
    # cdet_seen carries one consumed-first-summary bit per open closed
    # details, innermost last.
    cdet_depth = 0
    vsum_depth = 0
    cdet_seen: List[bool] = []

    # table mode state
    table_depth = 0
    # v37: rows land in CSS row groups — header rows emit first, footer
    # rows last, body (incl. implicit tbody) between, each in document
    # order. Only the FIRST thead/tfoot is the header/footer group.
    table_secs: dict = {"h": [], "b": [], "f": []}
    table_sec = "b"
    table_seen_head = False
    table_seen_foot = False
    table_cap: List[str] = []  # v37: caption text pieces
    in_caption = False
    cell_pieces: Optional[List[str]] = None
    table_link_chars = 0
    table_boiler = False
    table_hide = False  # v29: the <table> tag itself carried hidden state

    candidates: List[tuple] = []  # (kind, text, total, link, boiler)
    # current block as plain locals (a Block() per flush measurably costs;
    # see docs/PLAN.md kernel notes)
    cur_kind: Optional[str] = None
    cur_pieces: List[str] = []
    cur_link = 0
    cur_boiler = False

    # loop-hoisted lookups (the token loop runs ~100k times per batch)
    boiler_tags = cfg.boiler_tags
    boiler_class = cfg.boiler_class
    parse_tag = _parse_tag
    tag_cache_get = _TAG_CACHE.get  # inline probe: hits skip the call frame
    _strip_invisible = strip_invisible
    _decode_entities = decode_entities
    _collapse_ws = collapse_ws

    def current_kind() -> str:
        if heading_depth > 0:
            return "title"
        if pre_depth > 0:
            return "code"
        if li_depth > 0:
            return "list"
        return "para"

    def flush():
        nonlocal cur_kind, cur_pieces, cur_link, cur_boiler
        if cur_pieces:
            if cur_kind == "code":
                # v32: code blocks preserve whitespace verbatim (the
                # white-space:pre rendering rule, block-granular): CR
                # forms normalize to \n, outer whitespace strips (which
                # subsumes the HTML5 newline-after-<pre> drop rule)
                t = "".join(cur_pieces)
                if "\r" in t:
                    t = t.replace("\r\n", "\n").replace("\r", "\n")
                t = t.strip()
            else:
                t = collapse_ws("".join(cur_pieces))
            if t:
                candidates.append(
                    (cur_kind or "para", t, len(t), min(cur_link, len(t)), cur_boiler)
                )
            cur_pieces = []
        cur_kind = None
        cur_link = 0
        cur_boiler = False

    def flush_table():
        nonlocal table_secs, table_cap, table_link_chars, table_boiler, table_hide
        all_rows = table_secs["h"] + table_secs["b"] + table_secs["f"]
        rows = [" | ".join(r) for r in all_rows if r]
        cap = collapse_ws("".join(table_cap))  # v37: caption = first line
        t = "\n".join(([cap] if cap else []) + rows)
        if t.strip() and not table_hide:  # v29: a hidden table renders nothing
            candidates.append(
                ("table", t,
                 sum(len(c) for r in all_rows for c in r) + len(cap),
                 table_link_chars, table_boiler)
            )
        table_secs = {"h": [], "b": [], "f": []}
        table_cap = []
        table_link_chars = 0
        table_boiler = False
        table_hide = False

    # v42: rawtext rendering state — inside <xmp> every token (tags,
    # comments, text) is literal page text until a genuine closing xmp
    # tag token; <plaintext> never exits (the HTML PLAINTEXT tokenizer
    # state has no exit). Entity references do NOT decode in rawtext.
    rawtext = None

    # v58: document stylesheets — one pre-scan, document-wide scope
    sheet_cls = sheet_ids = None
    if "<style" in text:
        sc, si = stylesheet_hidden(text)
        sheet_cls = sc or None
        sheet_ids = si or None

    for tok in _TOKEN_RE.findall(text):
        if rawtext is not None:
            if rawtext == "xmp" and tok[0] == "<" and tok[1] != "!":
                pc, pn = parse_tag(tok)[:2]
                if pc and pn == "xmp":
                    rawtext = None
                    # fall through: the close tag flushes (BLOCK_TAGS)
                    # and pops the xmp stack entry leniently
            if rawtext is not None:
                if skip_depth > 0 or hidden_depth > 0 or cdet_depth > vsum_depth:
                    continue
                piece = strip_invisible(tok)  # raw: no entity decode
                if not piece:
                    continue
                if cur_kind is None and not piece.isspace():
                    cur_kind = current_kind()
                cur_pieces.append(piece)
                if link_depth > 0:
                    cur_link += len(collapse_ws(piece))
                if boiler_depth > 0 and not cur_boiler and not piece.isspace():
                    cur_boiler = True
                continue
        if tok[0] != "<":
            # --- text token (fast path: the most common token kind) ---
            if (
                skip_depth > 0
                or svg_depth > 0
                or hidden_depth > 0
                or cdet_depth > vsum_depth
            ):
                continue
            piece = (
                _decode_entities(tok) if ("&" in tok or "\xa0" in tok) else tok
            )
            # v30: invisible format chars strip AFTER entity decode (both
            # &shy;-style entities and literal codepoints); a piece that
            # strips to nothing contributes nothing — no kind decision,
            # no boiler mark, no link chars. (isascii inlined: O(1) flag
            # probe skips the call frame on the dominant ASCII pieces)
            if not piece.isascii():
                piece = _strip_invisible(piece)
            if not piece:
                continue
            if table_depth > 0:
                if cell_pieces is not None:
                    cell_pieces.append(piece)
                    if link_depth > 0:
                        table_link_chars += len(collapse_ws(piece))
                elif in_caption:  # v37: caption text collects
                    table_cap.append(piece)
                    if link_depth > 0:
                        table_link_chars += len(collapse_ws(piece))
                continue
            if cur_kind is None and not piece.isspace():
                cur_kind = current_kind()
            cur_pieces.append(piece)
            if link_depth > 0:
                cur_link += len(collapse_ws(piece))
            if boiler_depth > 0 and not cur_boiler and not piece.isspace():
                cur_boiler = True
            continue
        if tok[1] == "!":  # comment or declaration (<!-- / <!DOCTYPE) → ignored
            continue
        else:  # --- tag token ---
            info = tag_cache_get(tok)
            if info is None:
                info = parse_tag(tok)
            closing, name, self_closing, class_tokens, tag_hidden, tag_open, id_val = info
            if name is None:
                continue  # malformed tag → ignored
            # v58: stylesheet class/id hiding — same effect as the v29
            # inline display:none; interior table tags keep the v29 pin
            # (the <table> tag itself is checked in its own branch below)
            if not closing and not tag_hidden:
                if (
                    sheet_cls is not None
                    and class_tokens
                    and not sheet_cls.isdisjoint(class_tokens)
                ):
                    tag_hidden = True
                elif sheet_ids is not None and id_val in sheet_ids:
                    tag_hidden = True

            # v46: inside a foreign svg subtree EVERY tag is inert except
            # svg itself (nesting counted; self-closing opens don't
            # deepen). Entering svg inside a skip subtree is impossible
            # (skip intercepts first, below), so the states are disjoint.
            if svg_depth > 0:
                if name == "svg":
                    if closing:
                        svg_depth -= 1
                    elif not self_closing:
                        svg_depth += 1
                continue

            if not closing and name in SKIP_TAGS and not self_closing:
                # v50: a declarative shadow root (<template
                # shadowrootmode="open|closed">) RENDERS its content —
                # browsers parse it straight into the host's shadow tree.
                # Only at top level (inside an active skip the subtree is
                # inert and the open must keep the skip balance). The
                # close's clamped decrement is then a no-op; both
                # boundaries flush (shadow roots are layout boundaries,
                # and the close flush is shared with the skip handler).
                if name == "template" and tag_open and skip_depth == 0:
                    if cur_pieces:
                        flush()
                    continue
                skip_depth += 1
                if cur_pieces:
                    flush()
                continue
            if closing and name in SKIP_TAGS:
                if skip_depth > 0:
                    skip_depth -= 1
                if cur_pieces:
                    flush()
                continue
            if skip_depth > 0:
                continue

            # v46: svg entry/stray-close — INLINE (no flush), works
            # everywhere including table mode (a cell's icon svg hides
            # without ending the cell); self-closing inert, stray close
            # clamped
            if name == "svg":
                if not closing and not self_closing:
                    svg_depth = 1
                continue

            # --- table mode handling ---
            if table_depth > 0:
                # v44: a block boundary INSIDE a cell or caption separates
                # the text runs it divides (the innerText newline —
                # `a<br>b` in a cell renders "a\nb", never "ab"); the
                # cell's collapse_ws turns it into a single space. Table
                # structure tags keep their own dispatch below; inline
                # tags separate nothing. Open and close both inject
                # (collapse merges) — the v29/v34 interior semantic
                # no-ops (hiding, gating) are unchanged.
                if name in BLOCK_TAGS and name not in _TBL_STRUCT_TAGS:
                    if cell_pieces is not None:
                        cell_pieces.append("\n")
                    elif in_caption:
                        table_cap.append("\n")
                if not closing:
                    if name == "table":
                        table_depth += 1
                    elif name == "tr":
                        in_caption = False  # v37: implicit caption end
                        table_secs[table_sec].append([])
                    elif name in ("td", "th") and not self_closing:
                        in_caption = False
                        cell_pieces = []
                        if not table_secs[table_sec]:
                            table_secs[table_sec].append([])
                    elif name == "a":
                        link_depth += 1
                    elif name == "thead":
                        # v37: only the FIRST thead is the header group
                        in_caption = False
                        table_sec = "b" if table_seen_head else "h"
                        table_seen_head = True
                    elif name == "tfoot":
                        in_caption = False
                        table_sec = "b" if table_seen_foot else "f"
                        table_seen_foot = True
                    elif name == "tbody":
                        in_caption = False
                        table_sec = "b"
                    elif name == "caption":
                        in_caption = True
                else:
                    if name == "table":
                        table_depth -= 1
                        if table_depth == 0:
                            cell_pieces = None
                            in_caption = False
                            flush_table()
                    elif name in ("td", "th"):
                        if cell_pieces is not None:
                            rows = table_secs[table_sec]
                            if not rows:  # section switched mid-cell
                                rows.append([])
                            rows[-1].append(collapse_ws("".join(cell_pieces)))
                            cell_pieces = None
                    elif name == "a" and link_depth > 0:
                        link_depth -= 1
                    elif name in ("thead", "tbody", "tfoot"):
                        table_sec = "b"  # v37: back to the implicit tbody
                    elif name == "caption":
                        in_caption = False
                continue

            if not closing and name == "table" and not self_closing:
                if cur_pieces:
                    flush()
                table_depth = 1
                table_sec = "b"  # v37: fresh section state per table
                table_seen_head = False
                table_seen_foot = False
                in_caption = False
                table_boiler = boiler_depth > 0
                table_hide = tag_hidden  # v29 (interior table tags: pinned no-op)
                continue

            if name in BLOCK_TAGS and cur_pieces:
                flush()

            if not closing:
                if name in VOID_TAGS or self_closing:
                    continue
                boiler = name in boiler_tags or (
                    class_tokens is not None and boiler_class in class_tokens
                )
                is_a = name == "a"
                is_h = name in HEADING_TAGS
                # v42: listing/xmp/plaintext are white-space:pre blocks
                is_pre = name in ("pre", "code", "listing", "xmp", "plaintext")
                is_li = name == "li"
                # v34: open-gated elements. A closed <dialog> hides like a
                # v29 hidden element; a closed <details> opens a cdet
                # level; a <summary> whose immediate parent is a closed
                # details that has not consumed its first summary is the
                # disclosure widget (renders).
                if name == "dialog" and not tag_open:
                    tag_hidden = True
                elif name == "rp" or name in _MEDIA_HIDDEN:
                    # v35: ruby fallback parens — the HTML5 UA stylesheet
                    # hides rp in ruby-supporting rendering (rt stays
                    # inline, the innerText behavior).
                    # v39: audio/video/canvas descendants are fallback a
                    # supporting browser never renders; inline-hidden (no
                    # flush) so a paragraph around an inline canvas stays
                    # whole. <object> fallback RENDERS (load state
                    # unknowable — pinned).
                    tag_hidden = True
                is_cdet = name == "details" and not tag_open
                is_vsum = False
                if name == "summary" and stack and stack[-1][7] and not cdet_seen[-1]:
                    cdet_seen[-1] = True
                    is_vsum = True
                stack.append(
                    (name, boiler, is_a, is_h, is_pre, is_li, tag_hidden,
                     is_cdet, is_vsum)
                )
                boiler_depth += boiler
                link_depth += is_a
                heading_depth += is_h
                pre_depth += is_pre
                li_depth += is_li
                hidden_depth += tag_hidden
                if is_cdet:
                    cdet_depth += 1
                    cdet_seen.append(False)
                vsum_depth += is_vsum
                if name == "xmp" or name == "plaintext":
                    # v42: switch to rawtext (self-closing forms were
                    # already skipped above — inert, the v34/v39 pin)
                    rawtext = name
            else:
                # lenient close: pop until matching tag name (if present)
                idx = None
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i][0] == name:
                        idx = i
                        break
                if idx is not None:
                    # clamped decrements (table-mode <a> handling can consume
                    # link_depth without a stack pop — the oracle clamps the
                    # same way); flag-guarded so the common all-false entry
                    # costs seven bool checks, no max() calls
                    for _, b2, a2, h2, p2, l2, hd2, cd2, vs2 in stack[idx:]:
                        if b2:
                            boiler_depth = max(0, boiler_depth - 1)
                        if a2:
                            link_depth = max(0, link_depth - 1)
                        if h2:
                            heading_depth = max(0, heading_depth - 1)
                        if p2:
                            pre_depth = max(0, pre_depth - 1)
                        if l2:
                            li_depth = max(0, li_depth - 1)
                        if hd2:
                            hidden_depth = max(0, hidden_depth - 1)
                        if cd2:  # v34: drop the consumed-bit with the entry
                            cdet_depth = max(0, cdet_depth - 1)
                            if cdet_seen:
                                cdet_seen.pop()
                        if vs2:
                            vsum_depth = max(0, vsum_depth - 1)
                    del stack[idx:]
            continue

    flush()
    if table_depth > 0:  # truncated payload inside a table
        flush_table()

    candidates = candidates[: cfg.max_candidates]
    spans = []
    n_dropped = 0
    for kind, t, total, link, boiler in candidates:
        if boiler or total < cfg.min_chars or 2 * link > total:
            n_dropped += 1
            continue
        score = 1.0 - (link / total) if total else 0.0
        spans.append((kind, t, score))
    return spans, n_dropped
