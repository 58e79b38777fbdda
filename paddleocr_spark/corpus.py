"""Deterministic synthetic transcript corpus (FIXTURES.md §1-2, SURVEY.md §7 M0).

Builds the input table of exactly the ``BASELINE.json input_hint`` shape —
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — by deriving payloads from the driver's
``documents.parquet`` word pool. Everything is a pure function of
``(doc_id, rep, turn_idx, words)`` seeded through md5, so the SAME rows are
produced by the pure-Python generator (pytest goldens) and the distributed
Spark generator (mapInPandas) at any parallelism.

Payload mix per turn (FIXTURES.md §2): 50% HTML / 20% PDF-like / 15% real
``%PDF-`` byte streams / 15% plain. v5: real-PDF content streams carry the
SPEC §3b filter mix — ~40% unfiltered / 10% ASCIIHexDecode / 10%
ASCII85Decode / 10% [ASCII85Decode FlateDecode] / 6% [hex LZWDecode] /
4% [a85 LZWDecode] with /EarlyChange 0 / 5% RunLengthDecode / 5% PNG
predictor under flate (array parms) / 5% TIFF Predictor-2 under LZW /
5% PNG predictor with single-dict parms — plus a 12% per-payload
undecodable stream (raw flate / DCTDecode / 4-bit predictor / truncated
LZW / bad PNG row type) that must be skipped and counted, never raised.
v6: ~30% of real-PDF payloads draw their body text with CMap-encoded fonts
(1-byte shifted bfrange or 2-byte CID bfchar via /Resources → /Font →
/ToUnicode, CMap streams sometimes compressed, occasional mid-page font
switch) that must decode back to the plain text.
Skew (FIXTURES.md §1): doc_id % 97 == 0 → 100× the median turn count, which
is what the salted repartition in operators/extract.py has to defuse.
"""

from __future__ import annotations

import hashlib
import random
import re
from datetime import datetime, timedelta, timezone
from typing import List

BASE_TURNS = 4
SKEW_FACTOR = 100
SKEW_MOD = 97
# bump when the deterministic payload functions change: cache tags and golden
# stamps include it, so /tmp artifacts from older corpus code can never be
# silently reused (they are keyed only by the documents.parquet content
# otherwise)
CORPUS_VERSION = 62  # v62: UTF-32 4-byte code-point CMaps
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ("user", "assistant", "tool")
TOOLS = ("fetch", "browser", "search")


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def conv_id_for(doc_id: int, rep: int) -> str:
    return f"conv-{doc_id:06d}-{rep:03d}"


def n_turns_for(doc_id: int, base_turns: int = BASE_TURNS) -> int:
    return base_turns * (SKEW_FACTOR if doc_id % SKEW_MOD == 0 else 1)


def _sent(rng: random.Random, words: List[str], k: int) -> str:
    return " ".join(rng.choice(words) for _ in range(k))


def _make_html(rng: random.Random, words: List[str]) -> str:
    """v17 depth: HTML5 constructs real web pages actually carry —
    v35: ruby annotations (SPEC §2.2) — <rp> fallback parens never
    render (UA stylesheet), <rt> gloss text renders inline; multi-
    segment ruby, table interplay and stray-close traps.
    v41: the UA display:block set (SPEC §2.3) — definition lists,
    figure/figcaption, fieldset/legend inside forms, address, and the
    legacy/rare block elements (hgroup center menu dir search); each
    must start its own block, never glue to the neighbour text.
    v42: legacy rawtext elements (SPEC §2.2) — <xmp> renders tags and
    entity refs literally until its close tag, <plaintext> to EOF,
    <listing> is a pre-like block with normal tag parsing.
    v44: cell-internal block boundaries (SPEC §2.3) — <br>/<p>/<hr>
    inside table cells and captions separate text runs (the innerText
    newline, one space after the cell collapse); inline tags glue.
    v46: foreign content (SPEC §2.2) — inline svg subtrees vanish
    without splitting their paragraph (icon svgs, charts with <text>
    labels, nested svg, interior fake-HTML traps); MathML renders
    inline with <annotation>/<annotation-xml> hidden.
    v50: declarative shadow DOM (SPEC §2.2) — <template
    shadowrootmode="open|closed"> content renders (SSR'd web
    components); invalid/valueless modes stay inert templates; traps
    for nesting inside plain templates and near-miss attributes.
    v55: popovers (SPEC §2.2) — the popover attribute hides until
    shown (UA [popover]{display:none}); invoker buttons render;
    near-miss pins (class="popover", popovertarget*).
    v39: media fallback (SPEC §2.2) — audio/video/canvas descendants
    vanish (supporting browsers never render them); inline canvas keeps
    its paragraph whole; object fallback renders (pinned); traps for
    self-closing and stray-close forms.
    v37: table sections (SPEC §2.3) — caption text as the table's
    first line (incl. unclosed/linked captions), thead/tfoot row groups
    emitting header-first/footer-last regardless of source order (the
    legacy tfoot-before-tbody form), bare-tr implicit tbody, and a
    second thead behaving as a plain row group.
    v34: open-gated elements (SPEC §2.2) — closed <details> hide their
    body while the first direct-child <summary> shows; every boolean
    `open` form (bare/empty/case/valued — open="false" is OPEN) renders;
    <dialog> hides without `open`; second/deep summaries are content;
    near-miss attrs (data-open, class="open") stay closed; table
    interplay pinned both directions.
    v29: hidden elements (HTML5 boolean ``hidden`` in all its forms,
    inline ``style`` display:none / visibility:hidden declarations,
    hidden tables) whose content must vanish, plus near-miss traps
    (class="hidden", data-/aria-hidden, border:none, the bare word)
    that must render.
    v26: form controls and non-rendered embedded/fallback subtrees
    (select/option, textarea with tag-looking content, noscript, iframe
    fallback, template) whose content must vanish while button labels
    render, plus traps: stray member close (clamped), self-closing
    member (no skip), cross-member close ending the skip early.
    quoted attribute values containing ``>`` (tag-open state), single-
    quoted and unquoted ``class`` values, uppercase/mixed-case tags,
    hex numeric entities, ``<script>``/``<style>`` blocks whose content
    (including tag-looking strings) must vanish, CDATA-as-bogus-comment
    residue, unclosed-comment tails, and ``<img alt>`` whose alt text is
    NOT extracted (pinned)."""
    w = lambda: rng.choice(words)
    parts = ["<html><head><title>", _sent(rng, words, 3), "</title></head><body>"]
    if rng.random() < 0.10:  # v17: head script/style — content must vanish
        parts.insert(
            1,
            '<script type="text/javascript">var p = "<p>not body '
            f'text</p>"; if ({rng.randint(1, 9)} > 2) {{ x = "{w()}"; }}'
            "</script><style>article > p { color: #333; }</style>",
        )
    # boilerplate: nav of links (high link density → must be stripped);
    # v17: ~20% of nav links carry a title attr with '>' inside quotes
    nav = " ".join(
        f'<a href="/{w()}"'
        + (f' title="{w()} > {w()}"' if rng.random() < 0.2 else "")
        + f">{w()} {w()}</a>"
        for _ in range(rng.randint(3, 6))
    )
    parts.append(f"<nav>{nav}</nav>")
    parts.append(f"<header><p>{_sent(rng, words, 4)} banner</p></header>")
    # v17: the sidebar class draws its HTML5 quoting form — all three
    # must be recognized as boilerplate
    cls = rng.choice(('class="sidebar"', "class='sidebar'", "class=sidebar"))
    parts.append(
        f"<div {cls}><ul>"
        + "".join(f'<li><a href="#{w()}">{w()}</a></li>' for _ in range(3))
        + "</ul></div>"
    )
    upper = rng.random() < 0.10  # v17: shouty markup — tags are case-blind
    parts.append("<ARTICLE>" if upper else "<article>")
    if rng.random() < 0.6:
        otag, ctag = ("<H1>", "</H1>") if upper else ("<h1>", "</h1>")
        parts.append(f"{otag}{_sent(rng, words, rng.randint(2, 5))}{ctag}")
    for _ in range(rng.randint(2, 6)):
        sent = _sent(rng, words, rng.randint(8, 30))
        roll = rng.random()
        if roll < 0.20:  # entities (v17: hex forms join the decimal/named mix)
            sent = sent.replace(" ", " &amp; ", 1) + rng.choice(
                (" caf&#233; &lt;tag&gt;", " caf&#xE9; &#x2014; x&nbsp;y")
            )
        elif roll < 0.45:  # inline style tokens (scrubbed, text kept)
            ws = sent.split(" ")
            i = rng.randrange(len(ws))
            ws[i] = f"<b>{ws[i]}</b>"
            if len(ws) > 2:
                ws[-1] = f"<i>{ws[-1]}</i>"
            sent = " ".join(ws)
        elif roll < 0.55:  # a single inline link (low density → kept)
            href = (
                f'"/{w()}?a>b&gt;c"' if rng.random() < 0.25 else f'"/{w()}"'
            )  # v17: '>' inside the quoted href must not end the tag
            sent += f" see <a href={href}>{w()}</a>"
        elif roll < 0.62:  # v17: mid-article script island between blocks
            parts.append(
                f"<script>document.write('<p>{w()} {w()}</p>');"
                f" if (a > b) b = '{w()}';</script>"
            )
        elif roll < 0.67:  # v17: an image with alt text (NOT extracted)
            parts.append(f'<img src="/{w()}.png" alt="{w()} {w()} alt text">')
        ptag = "<P>" if upper else "<p>"
        parts.append(f"{ptag}{sent}{'</P>' if upper else '</p>'}")
    if rng.random() < 0.18:  # v26: form controls — content must vanish
        opts = "".join(
            f'<option value="{w()}">{w()} {w()}</option>'
            for _ in range(rng.randint(2, 4))
        )
        parts.append(
            f'<form action="/search"><select name="s">{opts}</select>'
            f"<textarea rows=4>default {w()} text with a <p>tag-looking"
            f"</p> island</textarea>"
            f'<button type="submit">{w()} go</button></form>'
        )
    if rng.random() < 0.08:  # v26: noscript fallback — not rendered
        parts.append(f"<noscript><p>enable javascript {w()}</p></noscript>")
    if rng.random() < 0.08:  # v26: iframe fallback content — not rendered
        parts.append(
            f'<iframe src="/embed/{w()}"><p>fallback {w()} {w()}</p></iframe>'
        )
    if rng.random() < 0.05:  # v26: template subtree — never rendered
        parts.append(f"<template><li>{w()} row</li></template>")
    if rng.random() < 0.07:  # v50: declarative shadow DOM — renders
        r50 = rng.random()
        sw = f"{w()} {w()}"
        if r50 < 0.40:  # SSR'd web component: shadow content is page text
            parts.append(
                f'<template shadowrootmode="open"><p>{sw} shadow body'
                f"</p><style>.s{{color:red}}</style></template>"
                f"<p>{w()} light text</p>"
            )
        elif r50 < 0.60:  # closed mode renders identically
            parts.append(
                f"<template shadowrootmode=closed><p>{sw} closed renders"
                f"</p></template>"
            )
        elif r50 < 0.80:  # invalid / valueless modes: ordinary template
            parts.append(rng.choice((
                f'<template shadowrootmode="maybe"><p>{sw} stays hidden'
                f"</p></template><p>{w()} tail</p>",
                f"<template shadowrootmode><p>{sw} also hidden</p>"
                f"</template><p>{w()} tail two</p>",
            )))
        else:  # traps: nested in plain template (inert), near-miss attr
            parts.append(rng.choice((
                f'<template><template shadowrootmode="open"><p>{sw} gone'
                f"</p></template></template><p>{w()} after</p>",
                f'<template data-shadowrootmode="open"><p>{sw} datum'
                f" hidden</p></template><p>{w()} tail three</p>",
            )))
    if rng.random() < 0.06:  # v26 traps: stray close (clamped), self-closing
        # member (no skip), cross-member close ending the skip early
        r26 = rng.random()
        if r26 < 0.35:
            parts.append(f"</select><p>{_sent(rng, words, 4)} after stray</p>")
        elif r26 < 0.65:
            parts.append(f"<textarea/><p>{_sent(rng, words, 4)} renders</p>")
        else:
            parts.append(
                f"<select><option>{w()} hidden</option></style>"
                f"<option>{w()} leaked</option></select>"
            )
    if rng.random() < 0.06:  # v55: popovers — hidden until shown
        pw55 = f"{w()} {w()}"
        r55 = rng.random()
        if r55 < 0.45:  # tooltip/menu popover + its visible invoker
            parts.append(
                f'<button popovertarget="m{rng.randint(1, 9)}">'
                f"{w()} menu</button>"
                f'<div popover id="m{rng.randint(1, 9)}"><p>{pw55}'
                f" popover body</p></div><p>{w()} after popover</p>"
            )
        elif r55 < 0.70:  # manual/auto valued forms hide too
            parts.append(
                f'<div popover="{rng.choice(("manual", "auto", "hint"))}">'
                f"{pw55} valued gone</div><p>{w()} tail</p>"
            )
        else:  # near-miss pins: class/popovertarget render
            parts.append(rng.choice((
                f'<p class="popover">{pw55} classy renders</p>',
                f'<button popovertargetaction="show">{pw55} action'
                f" label</button>",
            )))
    if rng.random() < 0.08:  # v58: document stylesheets hide class/id
        cw = f"{w()} {w()}"
        k58 = rng.randint(1, 5)
        sheet = (
            f".hc{k58} {{ display: none }} "
            f"#hi{k58} {{ visibility : hidden ; }} "
            + rng.choice((
                f"@media (max-width:600px) {{ .mq{k58} {{ display:none }} }} ",
                f".ps{k58}:hover {{ display:none }} ",
                f".an{k58} .de{k58} {{ display:none }} ",
                f"div.tq{k58} {{ display:none }} ",
                f".ok{k58} {{ display:block; color:#111 }} ",
                f"/* .cm{k58} {{ display:none }} */ ",
            ))
        )
        hidden_el = rng.choice((
            f'<div class="hc{k58}"><p>{cw} sheetgone</p></div>',
            f'<p class="deco hc{k58}">{cw} multiclass gone</p>',
            f'<p id="hi{k58}">{cw} idgone</p>',
        ))
        trap_el = rng.choice((
            f'<p class="mq{k58}">{cw} media renders</p>',
            f'<p class="ps{k58}">{cw} pseudo renders</p>',
            f'<p class="de{k58}">{cw} descendant renders</p>',
            f'<div class="tq{k58}">{cw} tagqual renders</div>',
            f'<p class="ok{k58}">{cw} block renders</p>',
            f'<p class="cm{k58}">{cw} commented renders</p>',
            f'<p id="hi{rng.randint(6, 9)}">{cw} otherid renders</p>',
        ))
        r58 = rng.random()
        if r58 < 0.40:  # sheet before its targets
            parts.append(f"<style>{sheet}</style>{hidden_el}{trap_el}")
        elif r58 < 0.65:  # sheet AFTER its targets: applies backward
            parts.append(f"{hidden_el}{trap_el}<style>{sheet}</style>")
        elif r58 < 0.78:  # sheet inside a hidden subtree still applies
            parts.append(
                f'<div hidden><style>{sheet}</style></div>{hidden_el}'
            )
        elif r58 < 0.90:  # uppercase tag: rules NOT applied (pinned
            # degrade), content still vanishes via the skip set
            parts.append(f"<STYLE>{sheet}</STYLE>{hidden_el.replace('sheetgone', 'upper renders').replace('idgone', 'upper renders').replace('multiclass gone', 'upper renders')}")
        else:  # unterminated sheet at payload end: rules apply to EOF
            parts.append(f"{hidden_el}<style>{sheet}")
    if rng.random() < 0.14:  # v29: hidden content — must vanish
        hw = f"{w()} {w()}"
        r29 = rng.random()
        if r29 < 0.28:  # boolean hidden attr: bare / empty / valued / case
            attr = rng.choice(
                ("hidden", 'hidden=""', 'hidden="hidden"', "HIDDEN",
                 "hidden=until-found")
            )
            inner = f"<p>{hw} invisible</p>"
            if rng.random() < 0.3:  # nested visible-styled child: still hidden
                inner = f'<p style="display:block">{hw} stillgone</p>'
            parts.append(f"<div {attr}>{inner}</div>")
        elif r29 < 0.52:  # display:none declaration forms
            st = rng.choice(
                ('style="display:none"',
                 'style="display: none !important"',
                 "style='display :none;color:#222'",
                 "style=display:none")
            )
            parts.append(f"<p {st}>{hw} invisible</p>")
        elif r29 < 0.66:  # visibility:hidden
            parts.append(
                f'<span style="visibility: hidden">{hw} invisible</span>'
                f"<p>{w()} visible tail</p>"
            )
        elif r29 < 0.80:  # a hidden <table> renders nothing
            parts.append(
                f"<table hidden><tr><td>{hw} cellgone</td>"
                f"<td>{w()} alsogone</td></tr></table>"
            )
        else:  # traps: near-miss attrs/styles/text must RENDER
            parts.append(rng.choice((
                f'<p class="hidden">{hw} classy renders</p>',
                f'<p data-hidden="true">{hw} datum renders</p>',
                f'<p aria-hidden="true">{hw} aria renders</p>',
                f'<p style="border:none">{hw} bordered renders</p>',
                f"<p>the hidden {hw} word renders</p>",
            )))
    if rng.random() < 0.12:  # v30: invisible format chars — stripped
        iw = f"{w()}"
        r30 = rng.random()
        if r30 < 0.22:  # soft hyphens inside words (entity + literal forms)
            parts.append(
                f"<p>{w()} hy&shy;phen&shy;ated {iw}\u00adbreak"
                f" {_sent(rng, words, 3)}</p>"
            )
        elif r30 < 0.42:  # ZWSP runs between words (SEO stuffing)
            parts.append(
                f"<p>{w()}&#8203;{w()} {iw}\u200b\u200b{w()}"
                f" &#x200B;{_sent(rng, words, 3)}</p>"
            )
        elif r30 < 0.56:  # bidi marks + word joiner + BOM
            parts.append(
                f"<p>&lrm;{w()} \u200f{iw}&rlm; marks"
                f" no\u2060break&NoBreak;here \ufeff{w()}</p>"
            )
        elif r30 < 0.66:  # a piece that strips to NOTHING (kind/boiler traps)
            parts.append(
                f"<p>&shy;<code>{iw}</code> tail {w()}</p><h2>\u200b</h2>"
            )
        elif r30 < 0.78:  # ZWSP-padded link text (link chars post-strip)
            parts.append(
                f'<p>{_sent(rng, words, 6)} <a href="/{w()}">\u200b{iw}'
                f"\u200b</a> {w()}</p>"
            )
        elif r30 < 0.88:  # table cells stripping to empty
            parts.append(
                f"<table><tr><td>&shy;\u200b</td><td>{iw} kept cell</td>"
                f"</tr></table>"
            )
        else:  # KEEP traps: ZWNJ/ZWJ survive the strip
            parts.append(
                f"<p>می\u200cخواهم {iw}"
                f" \U0001f469\u200d\U0001f4bb kept joiners</p>"
            )
    if rng.random() < 0.14:  # v32: <pre> code blocks — whitespace verbatim
        r32 = rng.random()
        cw = f"{w()}_{w()}"
        if r32 < 0.35:  # indented multi-line code (the shape that matters)
            parts.append(
                f"<pre>def {cw}(x):\n    if x &gt; {rng.randint(1, 9)}:\n"
                f"        return x * 2\n    return {w()}</pre>"
            )
        elif r32 < 0.55:  # newline-after-<pre> drop + blank interior line
            parts.append(
                f"<pre>\n{cw} = [1, 2, 3]\n\nprint({cw})\n</pre>"
            )
        elif r32 < 0.68:  # CRLF / lone-CR forms normalize to \n
            parts.append(
                f"<pre>line one {w()}\r\n\tline two\rline three</pre>"
            )
        elif r32 < 0.80:  # syntax-highlight spans inside pre join raw
            parts.append(
                f"<pre><span>for</span> i <span>in</span> {cw}:\n"
                f"  <b>yield</b> i</pre>"
            )
        elif r32 < 0.90:  # trap: inline <code> in a para still collapses
            parts.append(
                f"<p>call <code>f( 1,\n   2 )</code> like {w()} this</p>"
            )
        else:  # traps: whitespace-only pre (no candidate); code-first para
            parts.append(rng.choice((
                "<pre>   \n\t  \n </pre>",
                f"<p><code>x&lt;{rng.randint(2, 8)}</code> guards {w()}</p>",
            )))
    if rng.random() < 0.13:  # v34: open-gated <details>/<dialog>
        dw = f"{w()} {w()}"
        r34 = rng.random()
        if r34 < 0.30:  # closed details: summary shows, body vanishes
            parts.append(
                f"<details><summary>{dw} disclosure</summary>"
                f"<p>{_sent(rng, words, 5)} foldaway</p></details>"
            )
        elif r34 < 0.52:  # open forms — ALL render (boolean attr rule)
            attr = rng.choice(
                ("open", 'open=""', "OPEN", 'open="false"', "open=open")
            )
            parts.append(
                f"<details {attr}><summary>{dw} widget</summary>"
                f"<p>{_sent(rng, words, 5)} unfolded</p></details>"
            )
        elif r34 < 0.64:  # dialog: closed vanishes, open renders
            if rng.random() < 0.5:
                parts.append(
                    f"<dialog><p>{dw} modalgone</p></dialog>"
                    f"<p>{w()} after dialog</p>"
                )
            else:
                parts.append(f"<dialog open><p>{dw} modal shows</p></dialog>")
        elif r34 < 0.76:  # summary placement rules
            parts.append(rng.choice((
                # second summary child is content (hidden when closed)
                f"<details><summary>{dw} first</summary>"
                f"<summary>{w()} secondgone</summary></details>",
                # a summary nested deeper than a direct child never shows
                f"<details><div><summary>{dw} deepgone</summary></div>"
                "</details>",
                # nested disclosure: both widgets show, both bodies hide
                f"<details><summary>{dw} outer <details><summary>"
                f"{w()} inner</summary><p>{w()} ibody gone</p></details>"
                f"</summary><p>{w()} obody gone</p></details>",
            )))
        elif r34 < 0.88:  # near-miss attrs stay CLOSED
            attr = rng.choice(("data-open", 'class="open"', 'aria-open="true"'))
            parts.append(
                f"<details {attr}><summary>{dw} nearmiss</summary>"
                f"<p>{w()} neargone</p></details>"
            )
        else:  # table interplay (both directions pinned)
            parts.append(rng.choice((
                # a table inside a closed details accumulates no text
                f"<details><table><tr><td>{dw} cellgone</td></tr></table>"
                "</details>",
                # details INSIDE table mode: intercepted, content extracts
                f"<table><tr><td><details><summary>{dw} kept</summary>"
                f"</details></td><td>{w()} cell</td></tr></table>",
            )))
    if rng.random() < 0.09:  # v46: foreign content — svg hides, math shows
        r46 = rng.random()
        fw = f"{w()} {w()}"
        if r46 < 0.30:  # icon svg inline in a paragraph — stays whole
            parts.append(
                f"<p>{_sent(rng, words, 3)} <svg viewBox=\"0 0 24 24\">"
                f"<title>{w()} icon</title><path d=\"M{rng.randint(1, 9)}"
                f" 0h24v24\"/></svg> {_sent(rng, words, 3)}</p>"
            )
        elif r46 < 0.50:  # chart svg with text labels — all vanish
            parts.append(
                f'<svg width="300"><text x="0" y="10">{fw} label</text>'
                f"<rect/><text>{w()} axis</text></svg>"
                f"<p>{w()} after chart</p>"
            )
        elif r46 < 0.68:  # MathML renders; annotations hide
            parts.append(
                f"<p>{w()} equation <math><mi>x</mi><mo>+</mo>"
                f"<mn>{rng.randint(2, 9)}</mn><semantics><mrow><mi>y</mi>"
                f"</mrow><annotation encoding=\"application/x-tex\">"
                f"{fw} tex gone</annotation></semantics></math>"
                f" {w()} tail</p>"
            )
        elif r46 < 0.86:  # nested svg + interior fake-HTML traps
            parts.append(rng.choice((
                f"<p>{w()} pre<svg><svg><text>{fw} deep</text></svg>"
                f"<p>{fw} fake para</p></svg>post {w()}</p>",
                f"<svg><style>.x{{fill:red}}</style><script>var "
                f"{w()}=1;</script></svg><p>{w()} after scripts</p>",
                f"<table><tr><td>{w()} cell <svg><text>{fw}</text>"
                f"</svg>kept</td></tr></table>",
            )))
        else:  # traps: self-close inert, stray close, unclosed to EOF
            parts.append(rng.choice((
                f"<svg/><p>{fw} selfclosed renders</p>",
                f"</svg><p>{fw} stray close renders</p>",
                f"<p>{fw} before cutoff</p><svg><text>{w()} swallowed",
            )))
    if rng.random() < 0.08:  # v42: rawtext — tags/entities render raw
        r42 = rng.random()
        if r42 < 0.30:  # xmp: markup sample renders literally
            parts.append(
                f"<p>{w()} example markup:</p>"
                f"<xmp><div class=\"{w()}\">\n  <p>{w()} {w()}</p>\n"
                f"</div> &amp; {w()}</xmp>"
                f"<p>{w()} after the sample</p>"
            )
        elif r42 < 0.48:  # xmp traps: comment token, skip-tag text, ws
            parts.append(rng.choice((
                f"<xmp><!-- {w()} stays raw --></xmp><p>{w()} tail</p>",
                f"<xmp><script>var {w()}=1;</script></xmp>"
                f"<p>{w()} renders</p>",
                f"<xmp>  {w()} keeps\n   indent  </xmp>",
            )))
        elif r42 < 0.62:  # plaintext: consumes to end of payload
            parts.append(
                f"<p>{w()} before cutoff</p>"
                f"<plaintext>{w()} rest is raw <b>{w()}</b>"
                f" </plaintext> still raw {w()}"
            )
        elif r42 < 0.82:  # listing: pre-like block, tags parse normally
            parts.append(
                f"<listing>{w()} {rng.randint(0, 99)}\n"
                f"  {w()} {rng.randint(0, 99)}</listing>"
                f"<p>{w()} next block</p>"
            )
        else:  # traps: self-close inert, stray close, hidden, table cell
            parts.append(rng.choice((
                f"<xmp/>{w()} selfclosed renders parsed",
                f"</xmp><p>{w()} stray close ok</p>",
                f"<div hidden><xmp>{w()} hidden raw</xmp></div>"
                f"<p>{w()} seen</p>",
                f"<table><tr><td>cell <xmp>{w()} joins</xmp></td></tr>"
                f"</table>",
            )))
    if rng.random() < 0.10:  # v41: UA display:block elements segment
        r41 = rng.random()
        if r41 < 0.28:  # definition list: each dt/dd is its own block
            items = "".join(
                f"<dt>{w()} term</dt><dd>{_sent(rng, words, 4)}</dd>"
                for _ in range(rng.randint(2, 3))
            )
            parts.append(f"<dl>{items}</dl>")
        elif r41 < 0.50:  # figure + figcaption split from prose
            parts.append(
                f"<p>{_sent(rng, words, 4)}</p>"
                f'<figure><img src="/{w()}.png" alt="{w()} plot">'
                f"<figcaption>figure {w()} caption</figcaption></figure>"
                f"<p>{w()} after figure</p>"
            )
        elif r41 < 0.68:  # form/fieldset/legend: rendered text segments
            parts.append(
                f"<form><fieldset><legend>{w()} settings</legend>"
                f"<p>{_sent(rng, words, 3)}</p></fieldset>"
                f'<button type="submit">{w()} apply</button></form>'
            )
        elif r41 < 0.84:  # address + legacy blocks (center/menu/dir)
            parts.append(rng.choice((
                f"<address>{w()} street {rng.randint(1, 99)}, {w()} city"
                f"</address><p>{w()} body text</p>",
                f"<center>{w()} centered notice</center>"
                f"<p>{w()} following text</p>",
                f"<menu><li>{w()} entry</li><li>{w()} entry</li></menu>",
                f"<dir><li>{w()} legacy item</li></dir>",
            )))
        else:  # hgroup/search + traps: self-close still flushes (like
            # br), stray close renders, dt inside table mode intercepted
            parts.append(rng.choice((
                f"<hgroup><h2>{w()} title</h2><p>{w()} tagline</p>"
                f"</hgroup>",
                f"<search><p>{w()} results for {w()}</p></search>",
                f"{w()} before<dd/>{w()} after the selfclose split",
                f"</dl><p>{w()} stray close renders</p>",
                f"<table><tr><td>cell <dt>{w()} joins</dt></td></tr>"
                f"</table>",
            )))
    if rng.random() < 0.09:  # v39: media fallback content — must vanish
        r39 = rng.random()
        mw = f"{w()} {w()}"
        if r39 < 0.30:  # video with track/source voids + fallback text
            parts.append(
                f'<video controls><source src="/{w()}.mp4">'
                f'<track kind="captions">'
                f"<p>{mw} your browser does not support video</p></video>"
                f"<p>{w()} after media text</p>"
            )
        elif r39 < 0.50:  # audio fallback
            parts.append(
                f'<audio><source src="/{w()}.ogg">{mw} fallbackgone</audio>'
            )
        elif r39 < 0.72:  # inline canvas must NOT split the paragraph
            parts.append(
                f"<p>{_sent(rng, words, 3)} <canvas>{mw} unsupported"
                f"</canvas> {_sent(rng, words, 3)}</p>"
            )
        elif r39 < 0.88:  # object fallback RENDERS (pinned)
            parts.append(
                f'<object data="/{w()}.svg"><p>{mw} object fallback'
                f" kept</p></object>"
            )
        else:  # traps: self-closing video (inert), stray close, nesting
            parts.append(rng.choice((
                f"<video/><p>{mw} selfclosed renders</p>",
                f"</canvas><p>{mw} stray close renders</p>",
                f"<video><canvas>{mw} doubly gone</canvas></video>"
                f"<p>{w()} tail text</p>",
            )))
    if rng.random() < 0.08:  # v35: ruby annotations — rp hides, rt renders
        r35 = rng.random()
        base, gloss = rng.choice(
            (("漢字", "kanji"), ("東京", "tokyo"), ("振り仮名", "furigana"))
        )
        if r35 < 0.40:  # full rp/rt form: parens vanish, gloss stays
            parts.append(
                f"<p>the term <ruby>{base}<rp>(</rp><rt>{gloss}</rt>"
                f"<rp>)</rp></ruby> appears in {_sent(rng, words, 4)}</p>"
            )
        elif r35 < 0.65:  # rt-only form (modern markup)
            parts.append(
                f"<p>{_sent(rng, words, 3)} <ruby>{base}<rt>{gloss}</rt>"
                f"</ruby> {w()} tail</p>"
            )
        elif r35 < 0.80:  # multi-segment ruby
            parts.append(
                f"<p>read <ruby>東<rp>(</rp><rt>tō</rt><rp>)</rp>"
                f"京<rp>(</rp><rt>kyō</rt><rp>)</rp></ruby>"
                f" in {_sent(rng, words, 3)}</p>"
            )
        elif r35 < 0.90:  # rp inside a table cell: pinned interior no-op
            parts.append(
                f"<table><tr><td><ruby>{base}<rp>(</rp><rt>{gloss}</rt>"
                f"<rp>)</rp></ruby></td><td>{w()} cell</td></tr></table>"
            )
        else:  # traps: stray </rp>, rp with attrs, empty rt
            parts.append(rng.choice((
                f"<p>{w()} stray</rp> close {_sent(rng, words, 3)}</p>",
                f'<p><ruby>{base}<rp class="x">[</rp><rt></rt></ruby>'
                f" {_sent(rng, words, 3)}</p>",
            )))
    if rng.random() < 0.05:  # v17: CDATA-as-bogus-comment residue (pinned)
        parts.append(f"<![CDATA[{w()} > {w()}]]>")
    if rng.random() < 0.10:
        parts.append("<p></p>")  # empty block
    if rng.random() < 0.25:  # list content
        parts.append(
            "<ul>"
            + "".join(f"<li>{_sent(rng, words, rng.randint(3, 7))}</li>" for _ in range(3))
            + "</ul>"
        )
    if rng.random() < 0.15:  # table with known cells
        rows = []
        for _ in range(rng.randint(2, 3)):
            cells = "".join(f"<td>{_sent(rng, words, 2)}</td>" for _ in range(rng.randint(2, 3)))
            rows.append(f"<tr>{cells}</tr>")
        if rng.random() < 0.30:  # v44: cell-internal block boundaries
            r44 = rng.random()
            if r44 < 0.40:  # address lines broken by <br>
                rows.append(
                    f"<tr><td>{w()} street<br>{w()} city<br>{w()} zip"
                    f"</td><td>{w()} plain</td></tr>"
                )
            elif r44 < 0.65:  # inner block elements divide runs
                rows.append(
                    f"<tr><td>{w()} top<p>{w()} middle</p>{w()} bottom"
                    f"</td></tr>"
                )
            elif r44 < 0.85:  # hr divider + inline tags must still glue
                rows.append(
                    f"<tr><td>{w()}<hr>{w()} after</td>"
                    f"<td><b>{w()}</b><i>glued</i></td></tr>"
                )
            else:  # caption with a br (collapses to one space)
                parts.append(
                    f"<table><caption>{w()} cap<br>{w()} line</caption>"
                    + "".join(rows) + "</table>"
                )
                rows = [f"<tr><td>{w()} extra</td></tr>"]
        if rng.random() < 0.45:  # v37: table sections + caption
            r37 = rng.random()
            cap = (
                f"<caption>{_sent(rng, words, 3)} caption</caption>"
                if rng.random() < 0.6
                else ""
            )
            head = f"<thead><tr><th>{w()} col</th><th>{w()} col</th></tr></thead>"
            foot = f"<tfoot><tr><td>{w()} total</td><td>{w()} sum</td></tr></tfoot>"
            body = "<tbody>" + "".join(rows) + "</tbody>"
            if r37 < 0.35:  # legacy HTML4 order: tfoot BEFORE tbody
                parts.append(f"<table>{cap}{head}{foot}{body}</table>")
            elif r37 < 0.60:  # modern order
                parts.append(f"<table>{cap}{head}{body}{foot}</table>")
            elif r37 < 0.75:  # bare trs after a closed thead (implicit tbody)
                parts.append(f"<table>{cap}{head}" + "".join(rows) + "</table>")
            elif r37 < 0.88:  # second thead behaves as a row group
                parts.append(
                    f"<table>{head}" + "".join(rows)
                    + f"<thead><tr><td>{w()} again</td></tr></thead></table>"
                )
            else:  # caption traps: unclosed caption / linked caption
                capt = rng.choice((
                    f"<caption>{w()} unclosed caption",
                    f'<caption><a href="/{w()}">{w()} linked</a></caption>',
                ))
                parts.append(f"<table>{capt}" + "".join(rows) + "</table>")
        else:
            parts.append("<table>" + "".join(rows) + "</table>")
    parts.append("</ARTICLE>" if upper else "</article>")
    parts.append(f"<footer><p>copyright {w()} <a href='/{w()}'>{w()}</a></p></footer>")
    parts.append("</body></html>")
    if rng.random() < 0.04:  # v17: unclosed comment tail — consumed to EOF
        parts.append(f"<!-- analytics {w()} {w()} never closed")
    doc = "".join(parts)
    if rng.random() < 0.07:  # malformed/truncated payload → must not error
        doc = doc[: rng.randint(len(doc) // 2, len(doc) - 1)]
    return doc


def _make_pdflike(rng: random.Random, words: List[str]) -> str:
    lines = ["PDFLIKE v1"]
    n_pages = 2 if rng.random() < 0.20 else 1
    for page in range(n_pages):
        if rng.random() < 0.7:  # header band (dropped)
            lines.append(f"{page}|50,10,750,40|{_sent(rng, words, 3)} header")
        two_col = rng.random() < 0.4
        if two_col:
            for col, (x0, x1) in enumerate(((50, 380), (420, 750))):
                y = 100
                for _ in range(rng.randint(2, 4)):
                    j = rng.randint(-9, 9)
                    lines.append(
                        f"{page}|{x0},{y + j},{x1},{y + j + 30}|{_sent(rng, words, rng.randint(4, 12))}"
                    )
                    y += 60
        else:
            y = 100
            for _ in range(rng.randint(3, 6)):
                if rng.random() < 0.3:  # one visual row, two blocks, y-jitter ±9
                    j1, j2 = rng.randint(-9, 9), rng.randint(-9, 9)
                    lines.append(f"{page}|50,{y + j1},380,{y + j1 + 30}|{_sent(rng, words, 4)}")
                    lines.append(f"{page}|400,{y + j2},750,{y + j2 + 30}|{_sent(rng, words, 4)}")
                else:
                    j = rng.randint(-9, 9)
                    lines.append(
                        f"{page}|50,{y + j},750,{y + j + 30}|{_sent(rng, words, rng.randint(5, 14))}"
                    )
                y += 60
        if rng.random() < 0.7:  # footer band (dropped)
            lines.append(f"{page}|50,960,750,990|page {page} footer")
        if rng.random() < 0.10:  # malformed line → skipped, not an error
            lines.append(f"{page}|oops,bad|{_sent(rng, words, 2)}")
    return "\n".join(lines)


def _pdf_str(s: str) -> str:
    """Escape a text for a PDF literal string."""
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _lit_escape(hexcodes: str) -> str:
    """Render font-encoded bytes as an ASCII-safe PDF literal string
    (v23): printables pass, specials backslash-escape, everything else
    becomes a THREE-digit octal escape (always three, so a following
    digit char can never extend the maximal munch)."""
    out = []
    for b in bytes.fromhex(hexcodes):
        c = chr(b)
        if c in "\\()":
            out.append("\\" + c)
        elif 0x20 <= b <= 0x7E:
            out.append(c)
        else:
            out.append(f"\\{b:03o}")
    return "".join(out)


# --- stream-filter ENCODERS (generation-only; the decode side lives in
# functions/realpdf.py with an independent oracle mirror in oracle.py) ------


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder (ISO 32000 §7.4.4): leading Clear, trailing EOD, MSB-first
    variable-width codes 9→12 bits; width grows one entry early under
    EarlyChange=1 (mirrors the decoders' ``table_size == 2^w − early`` rule
    from the emitting side: bump after the entry that makes the NEXT code not
    fit); Clear re-emitted before the table would overflow."""
    codes = []  # (code, width-at-emission)
    width = 9
    book = {bytes([b]): b for b in range(256)}
    next_code = 258
    codes.append((256, width))
    w = b""
    for b in data:
        ch = bytes([b])
        wc = w + ch
        if wc in book:
            w = wc
            continue
        codes.append((book[w], width))
        if next_code >= 4093:  # conservative clear well before 4096
            codes.append((256, width))
            book = {bytes([c]): c for c in range(256)}
            next_code = 258
            width = 9
        else:
            book[wc] = next_code
            next_code += 1
            if width < 12 and next_code - 1 + early == (1 << width):
                width += 1
        w = ch
    if w:
        codes.append((book[w], width))
    codes.append((257, width))
    acc = nbits = 0
    out = bytearray()
    for c, wd in codes:
        acc = (acc << wd) | c
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1  # drop emitted bits: linear, not quadratic
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    """RunLengthDecode encoder (ISO 32000 §7.4.5): repeat runs ≥3 become
    (257−n, byte); literal chunks cap at 128 bytes; trailing EOD (128)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n and data[j] == data[i] and j - i < 128:
            j += 1
        if j - i >= 3:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            continue
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    out.append(128)
    return bytes(out)


def _png_predict(data: bytes, columns: int, colors: int = 1) -> bytes:
    """PNG-predict rows of ``columns*colors`` bytes (len must divide evenly);
    the row filter type cycles 0..4 so every PNG filter is exercised."""
    bpp = colors
    stride = columns * colors
    out = bytearray()
    prior = bytes(stride)
    for r0 in range(0, len(data), stride):
        row = data[r0 : r0 + stride]
        ft = (r0 // stride) % 5
        out.append(ft)
        for i in range(stride):
            x = row[i]
            a = row[i - bpp] if i >= bpp else 0
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
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out.append((x - pr) & 0xFF)
        prior = row
    return bytes(out)


def _tiff_predict(data: bytes, columns: int, colors: int = 1) -> bytes:
    """TIFF horizontal differencing (Predictor 2) over rows of
    ``columns*colors`` bytes; len must divide evenly."""
    bpp = colors
    rowlen = columns * colors
    out = bytearray(data)
    for r0 in range(0, len(out), rowlen):
        for i in range(rowlen - 1, bpp - 1, -1):
            out[r0 + i] = (out[r0 + i] - out[r0 + i - bpp]) & 0xFF
    return bytes(out)


def _pad_to(data: bytes, k: int) -> bytes:
    """Pad with spaces to a multiple of k — trailing whitespace is
    insignificant to the content-stream tokenizer, so extraction parity
    is unaffected."""
    r = len(data) % k
    return data + b" " * (k - r) if r else data


def _u16_units(ch: str) -> List[int]:
    o = ord(ch)
    if o <= 0xFFFF:
        return [o]
    o -= 0x10000
    return [0xD800 + (o >> 10), 0xDC00 + (o & 0x3FF)]


def _inline_img(rng: random.Random) -> str:
    """v8: a ``BI … ID … EI`` inline image (SPEC §3b Inline images) whose
    data is deliberately hostile — fake text operators, strings, ``BT``
    blocks and non-boundary ``EI`` sequences that a wrong skip rule would
    interpret as page text. Three forms: ``/L``-or-``/Length`` delimited
    (data may contain a genuine boundary ``" EI "`` that the length must
    override), scan-terminated (traps never sit at a qualifying boundary:
    the filler alphabet has no ``I`` and every embedded ``EI`` is preceded
    by a non-whitespace char or followed by a regular char), and a
    near-empty abbreviated-dict form."""
    w, h = rng.randint(1, 8), rng.randint(1, 4)
    poison = rng.choice((
        "(fake line) Tj",
        "BT /F1 66 Tf (boom) Tj ET",
        "72 700 Td T* (ghost) '",
        "EIq qEI",
        "zEI(",
        "<48454C50> Tj",
        "[ (x) -300 (y) ] TJ",
    ))
    alpha = "ABCDEFabcdef0123456789#@!*+=_|;:,.^~?"
    filler = "".join(rng.choice(alpha) for _ in range(rng.randint(8, 40)))
    data = f"{filler} {poison} {filler[::-1]}"
    roll = rng.random()
    if roll < 0.45:
        if rng.random() < 0.5:
            data += " EI trailing-junk"  # /L must win over this early boundary
        key = "/L" if rng.random() < 0.7 else "/Length"
        return (
            f"BI /W {w} /H {h} /CS /G /BPC 8 {key} {len(data)} ID {data}\nEI"
        )
    if roll < 0.85:
        return f"BI /W {w} /H {h} /F [/AHx] ID {data}\nEI"
    return f"BI /W {w} /H {h} /IM true ID \nEI"


# v13: the typographic pool a /Differences font remaps, with the AGL name
# used in the encoding array (generator-side data only — the two decoders
# carry their own independent tables).
_DIFF_NAMES = {
    "€": "Euro", "‘": "quoteleft", "’": "quoteright", "“": "quotedblleft",
    "”": "quotedblright", "–": "endash", "—": "emdash", "•": "bullet",
    "…": "ellipsis", "ß": "germandbls", "é": "eacute", "ä": "adieresis",
    "ö": "odieresis", "ü": "udieresis", "æ": "ae", "ñ": "ntilde",
    "ﬁ": "fi", "»": "guillemotright", "«": "guillemotleft",
}


def _mk_diffmap(rng: random.Random) -> dict:
    """{char: code} for a v13 /Differences font: 3–6 pool chars on mostly
    consecutive codes starting in the WinAnsi high range."""
    chars = rng.sample(sorted(_DIFF_NAMES), rng.randint(3, 6))
    code = rng.choice((0x80, 0x8C, 0xA1, 0xB0))
    m = {}
    for ch in chars:
        m[ch] = code
        code += 1 if rng.random() < 0.8 else rng.randint(2, 4)
    return m


def _diff_decorate(rng: random.Random, sent: str, m: dict) -> str:
    """Sprinkle 1–3 remapped chars into a sentence so the Differences
    decode path is actually exercised by the body text."""
    chars = sorted(m)
    ws = sent.split(" ")
    for _ in range(rng.randint(1, 3)):
        ch = rng.choice(chars)
        k = rng.randrange(len(ws))
        ws[k] = ws[k] + ch if rng.random() < 0.5 else ch + ws[k]
    return " ".join(ws)


def _diff_array(rng: random.Random, m: dict) -> str:
    """/Differences array text from a {char: code} map: runs of consecutive
    codes share one integer restart; ~25% of names use the AGL uniXXXX form;
    occasional traps — a leading out-of-range pair (skipped, still
    increments) and a trailing unknown glyph name (identity pass-through)."""
    by_code = sorted((c, ch) for ch, c in m.items())
    toks: List[str] = []
    prev = None
    for c, ch in by_code:
        if prev is None or c != prev + 1:
            toks.append(str(c))
        nm = (
            f"uni{ord(ch):04X}" if rng.random() < 0.25 else _DIFF_NAMES[ch]
        )
        toks.append(f"/{nm}")
        prev = c
    if rng.random() < 0.15:  # out-of-range start code: name skipped
        toks = ["-3", "/emdash"] + toks
    if rng.random() < 0.20:  # unknown glyph name: code stays identity
        toks.append("/q7zglyph")
    return " ".join(toks)


def _corpus_lit_bytes(body: str, i: int):
    """Parse the literal string starting at '(' → (raw bytes, end-after).
    Covers the escape forms the corpus itself emits (\\( \\) \\\\ and
    three-digit octal from _lit_escape) plus nesting."""
    out = []
    depth = 1
    i += 1
    n = len(body)
    while i < n:
        c = body[i]
        if c == "\\":
            nxt = body[i + 1 : i + 2]
            if nxt in "()\\":
                out.append(nxt)
                i += 2
            elif nxt.isdigit():
                out.append(chr(int(body[i + 1 : i + 4], 8) % 256))
                i += 4
            elif nxt == "n":
                out.append("\n")
                i += 2
            else:
                out.append(nxt)
                i += 2
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return "".join(out).encode("latin-1"), i + 1
        out.append(c)
        i += 1
    return "".join(out).encode("latin-1"), n


_R6_POOL: List[tuple] = []


def _r6_pool():
    if not _R6_POOL:
        from .functions.pdfcrypt import r6_make_user_entries

        for i in range(4):
            key = hashlib.sha256(f"r6-key-{i}".encode()).digest()
            vsalt = hashlib.md5(f"r6-vs-{i}".encode()).digest()[:8]
            ksalt = hashlib.md5(f"r6-ks-{i}".encode()).digest()[:8]
            u, ue = r6_make_user_entries(key, vsalt, ksalt)
            _R6_POOL.append((key, vsalt, ksalt, u, ue))
    return _R6_POOL


def _encrypt_doc_v59(doc: str, rng: random.Random) -> str:
    """Post-process a finished single-section classic-trailer doc into an
    encrypted twin (ISO 32000 §7.6.3 / §7.6.4) openable with the EMPTY
    user password: every stream (except /Type /XRef) and every
    dict-level string encrypts under the drawn scheme; the /Encrypt
    dict + /ID land in the trailer. ~1 in 8 draws corrupts /U after the
    fact — the user-password-protected refusal case."""
    from .functions.pdfcrypt import (
        aes_encrypt_cbc,
        file_key_rc4,
        object_key,
        rc4,
        user_check_r2,
        user_check_r34,
    )
    from .functions.realpdf import _object_map

    scheme = rng.choice(("rc4_40", "rc4_128", "rc4_128", "aesv2", "aesv2", "aesv3"))
    v, r, nbytes, aes, length = {
        "rc4_40": (1, 2, 5, False, 40),
        "rc4_128": (2, 3, 16, False, 128),
        "aesv2": (4, 4, 16, True, 128),
        "aesv3": (5, 6, 32, True, 256),
    }[scheme]
    id0 = bytes(rng.randrange(256) for _ in range(16))
    o = bytes(rng.randrange(256) for _ in range(32))
    p = -(rng.randrange(1, 4000) * 4)
    if v == 5:
        # the 2.B KDF is deliberately expensive (≥64 SHA+AES rounds), so
        # R6 parameters draw from a FIXED 4-tuple pool: the kernel/oracle
        # lru_cache then pays the derivation once per process instead of
        # once per payload (content-keyed → parallelism-invariant)
        key, vsalt, ksalt, u, ue = _r6_pool()[rng.randrange(4)]
        uent = (
            f"/O <{(o + o[:16]).hex()}> /OE <{bytes(32).hex()}>"
            f" /U <{u.hex()}> /UE <{ue.hex()}>"
        )
    else:
        key = file_key_rc4(o, p, id0, r, nbytes)
        u = user_check_r2(key) if r == 2 else user_check_r34(key, id0) + bytes(16)
        uent = f"/O <{o.hex()}> /U <{u.hex()}>"
    objs, intervals = _object_map(doc)
    out = []
    last = 0
    for s0, e0, num in intervals:
        out.append(doc[last:s0])
        body = doc[s0:e0]
        last = e0
        okey = key if v == 5 else object_key(key, num, 0, aes)
        k = body.find("stream")
        span = None
        if k >= 0:
            after = k + 6
            cs = after + 1 if body[after : after + 1] == "\n" else None
            if cs is not None:
                end = body.find("endstream", cs)
                if end >= 0:
                    span = (cs, end)
        head_end = span[0] - 7 if span else len(body)
        head = body[:head_end] if span else body
        if span and "/XRef" in head:
            out.append(body)  # xref streams are never encrypted
            continue
        # dict-level strings → encrypted hex
        hout = []
        i = 0
        n2 = len(head)
        while i < n2:
            c = head[i]
            if c == "(":
                raw, e2 = _corpus_lit_bytes(head, i)
                enc = (
                    aes_encrypt_cbc(
                        okey, bytes(rng.randrange(256) for _ in range(16)), raw
                    )
                    if aes
                    else rc4(okey, raw)
                )
                hout.append("<" + enc.hex() + ">")
                i = e2
            elif c == "<" and head[i : i + 2] != "<<":
                j2 = head.find(">", i + 1)
                if j2 < 0:
                    hout.append(head[i:])
                    break
                hx = re.sub(r"[^0-9a-fA-F]", "", head[i + 1 : j2])
                if len(hx) % 2:
                    hx += "0"
                raw = bytes.fromhex(hx)
                enc = (
                    aes_encrypt_cbc(
                        okey, bytes(rng.randrange(256) for _ in range(16)), raw
                    )
                    if aes
                    else rc4(okey, raw)
                )
                hout.append("<" + enc.hex() + ">")
                i = j2 + 1
            elif c == "<":
                hout.append("<<")
                i += 2
            else:
                nxt = [x for x in (head.find("(", i), head.find("<", i)) if x >= 0]
                j2 = min(nxt) if nxt else n2
                hout.append(head[i:j2])
                i = j2
        new_head = "".join(hout)
        if span is None:
            out.append(new_head)
            continue
        cs, end = span
        data = body[cs:end].encode("latin-1")
        if data.endswith("\n".encode()):
            data = data[:-1]
        enc = (
            aes_encrypt_cbc(
                okey, bytes(rng.randrange(256) for _ in range(16)), data
            )
            if aes
            else rc4(okey, data)
        )
        out.append(
            new_head
            + body[head_end : cs]
            + enc.decode("latin-1")
            + "\n"
            + body[end:]
        )
    out.append(doc[last:])
    doc = "".join(out)
    enum = max(objs) + 1 if objs else 90
    extra = ""
    if v == 4:
        extra = (
            " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >>"
            " /StmF /StdCF /StrF /StdCF"
        )
    elif v == 5:
        extra = (
            " /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF /StrF /StdCF"
        )
    if rng.random() < 0.12:  # user-password-protected twin: must refuse
        u_hex = u.hex()
        bad = ("00" if u_hex[:2] != "00" else "ff") + u_hex[2:]
        uent = uent.replace(u_hex, bad, 1)
    encobj = (
        f"{enum} 0 obj\n<< /Filter /Standard /V {v} /R {r}"
        f" /Length {length} /P {p} {uent}{extra} >>\nendobj\n"
    )
    doc = doc.replace(
        "trailer\n<< /Root",
        f"{encobj}trailer\n<< /Encrypt {enum} 0 R"
        f" /ID [<{id0.hex()}> <{id0.hex()}>] /Root",
        1,
    )
    return doc


def _make_realpdf(rng: random.Random, words: List[str]) -> str:
    """A deterministic real PDF (uncompressed text objects, SPEC §3b):
    classic skeleton (catalog/pages/page objects, MediaBox, xref-less
    trailer) with one content stream per page exercising Tj/TJ/hex/escape
    show forms, Td/TD/Tm/T*/' positioning, header+footer bands, optional
    two-column layout, an occasional /Filter stream (skipped) and occasional
    truncation (unterminated-stream path). v6: ~30% of payloads draw body
    text with CMap-encoded fonts (/F9, sometimes a second /F8) — 1-byte
    shifted codes via one bfrange, or 2-byte CID codes via bfchar lists —
    resolved through /Resources → /Font → /ToUnicode (the CMap stream itself
    sometimes filter-compressed); headers/footers stay /F1 (identity).
    v8: ~35% of pages carry hostile BI/ID/EI inline images (``_inline_img``)
    between and inside text blocks — extraction must be invisible to them.
    v9: ~30% of payloads carry form XObjects drawn via ``Do`` (letterhead
    form with a /Matrix translation; sometimes nested form-in-form, rarely
    a deliberate A→B→A cycle the guard must break; image/self/unknown-name
    Do targets that must no-op), and ~12% of pages are scanned-OCR pages —
    an inline image plus a ``3 Tr`` invisible text layer (extracted by
    default: the OCR-text-layer analog).
    v10: ~11% of payloads rotate (Pages-node /Rotate inherited by every
    kid, or a page-local value incl. 360/450 normalization and a 45 that
    must resolve to 0), and ~8% of pages carry their own /MediaBox
    (sometimes a degenerate extent the /Parent walk must skip).
    v12: ~10% of body lines set horizontal scaling + rise (`Tz`/`Ts`,
    ISO §9.3.4/9.3.7) — incl. a negative Tz whose advance must clamp to
    0 — completing the seven-parameter §9.3 text-state set.
    v13: ~10% of payloads use an /Encoding /Differences simple font
    (ISO §9.6.6; inline dict or referenced /Type /Encoding object, AGL
    and uniXXXX glyph names, unknown-name and out-of-range traps), ~15%
    of CMap fonts carry a conflicting Differences the ToUnicode must
    beat, and ~40% of the quote-continuation lines become the
    three-operand `aw ac string "` form whose spacing persists
    (ISO §9.4.3).
    v14: ~12% of pages split their content stream into a `/Contents
    [ … ]` array of 2-3 parts cut at token boundaries (mid-BT included —
    text state flows across parts; ISO §7.7.3.3 concatenation), each
    part behind its own filter-chain draw, with missing-part,
    reversed-document-order and one-element-array traps.
    v15: ~25% of resource-bearing payloads hoist /Resources to the Pages
    node (inherited via the /Parent walk, ISO §7.7.3.4), ~20% of those
    with a broken page-level /Resources that must mask the ancestor's.
    v19: ~4% of payloads hoist a margin /CropBox to the Pages node and
    ~6% of pages carry their own (margin crop shifting the viewport
    origin, an oversize crop that clips to the MediaBox into a no-op,
    and a degenerate-extent trap the walk must skip).
    v18: ~10% of payloads draw a base-encoding simple font (ISO 32000
    Annex D.2 — /WinAnsiEncoding or /MacRomanEncoding as a bare name, a
    dict with a '$'→bullet /Differences overlay riding /BaseEncoding, or
    a referenced /Type /Encoding object), body text salted with
    high-half glyphs (curly quotes, em-dash, €, é, «», …); ~10% of CMap
    fonts carry a conflicting bare base-encoding name the ToUnicode must
    beat.
    v23: ~15% of font-encoded show ops render as escaped LITERAL
    strings (ISO §7.3.4.2) — three-digit octal escapes carry the
    non-printable code bytes (incl. 2-byte CID halves), exercising
    the literal-reader × CMap interplay the hex forms bypass.
    v22: ~30% of section tails take the PDF-1.5 form (ISO §7.5.8) —
    no classic trailer keyword; /Root (and /Encrypt, /Prev) ride the
    cross-reference STREAM's parameter dict, whose W-encoded flate
    body is inert binary to the xref-free scanner.
    v21: page counts grow a 3-page draw; half of multi-page payloads emit
    their content streams OUT of byte order (the incremental-update /
    print-pipeline shape) while /Kids carries logical order; ~25% of
    multi-page payloads route some pages through a nested /Type /Pages
    node (object 80, ObjStm-routable, exercising two-hop /Parent
    inheritance); ~10% draw a tree trap — missing kid, duplicate
    listing, cycle back to the root, dead trailer /Root (byte order
    stands), or an orphan /Type /Page outside the tree (its unit is
    appended after the tree pages).
    v20: ~23% of payloads position a text block through the graphics
    state (ISO §8.4.4) — q/cm/Q with local Td coordinates (the
    Cairo/Chrome-print style): translate-only, scaled, nested-composed,
    rotated (pinned axis-aligned anchor box), Q-restores-text-state, and
    traps (unbalanced Q, 5-operand cm, cm inside BT); form /Matrix
    scaling components now compose with the CTM instead of being pinned
    to translation-only.
    v24: ~35% of payloads carry marked content (ISO 32000 §14.6) —
    header/footer bands wrapped in /Artifact levels (BDC-dict and BMC
    forms; suppressed by default, the §14.8.2.2.2 text-extraction rule),
    mid-page DRAFT watermark artifacts that would otherwise be KEPT,
    hyphenation-fix /ActualText spans (plain, hex-UTF-16BE-BOM and
    octal-literal-BOM operand forms, occasionally non-ASCII), an
    artifact-wrapped Do (the form's shows still render — fresh stack),
    and traps: unbalanced EMC, zero-show levels, number-first BDC
    (untagged), ref-in-property-dict stack-clear (untagged — renders),
    named-props /Artifact (still suppresses).
    v33: ~55% of Type0 payloads (Identity and ToUnicode-CMap schemes)
    carry a /DescendantFonts CIDFont with /W + /DW width arrays (ISO
    32000 §9.7.4.3) — DW-only and bare descendants (ISO's DW=1000
    applies to every glyph), range and run group forms, ref'd /W and
    ref'd /DescendantFonts arrays, /DW2 noise, and refusal traps that
    must fall back to any v25 table on the same font.
    v40: /ActualText operands and FreeText /Contents draw PDF 2.0
    UTF-8-BOM text-string forms (EF BB BF; hex and raw/octal literal),
    ISO 32000-2 §7.9.2.2.1.
    v38: Type0 pages draw a large-Tw block whose 2-byte 0x0020 codes
    must take no word spacing (ISO §9.3.3 — Tw is single-byte-32 only).
    v36: ~12% of payloads carry optional-content machinery (ISO 32000
    §8.11) — a catalog /OCProperties (inline or ref'd) whose /D /OFF
    lists the watermark OCG, page-resource /Properties naming OFF/ON
    OCGs and an OCMD (all-OFF, single-ref, AnyOn and empty /OCGs
    draws), /OC BDC layers that must vanish or render accordingly, and
    render traps (unknown property name, inline dict, BMC /OC, dangling
    /OFF refs, /OFF-less configs).
    v25: ~14% of payloads carry a /FirstChar + /Widths advance table
    (ISO 32000 §9.7.4) — on the identity /F1 when no encoded scheme is
    drawn, else threaded into the /F9 body font (1-byte schemes key
    widths by the shifted codes; CID schemes take the multi-byte
    /MissingWidth fallback); inline and ref'd array forms, optional
    /FontDescriptor /MissingWidth, and no-table traps (missing
    /FirstChar, junk array token).
    v43: ~30% of the scheme-less widths fonts are /Type3 — widths in
    the glyph space /FontMatrix defines (ISO §9.6.5), with degrade
    traps (missing matrix, degenerate a=0, 5-number array → 1/1000);
    the v9 OCR layer sometimes draws clip-only mode 7 Tr (invisible,
    §9.3.6) and the visible-mode draw covers 4-6.
    v45: ~45% of Widget draws store the field value on an ancestor
    (ISO §12.7.3.3 /Parent inheritance) — direct parent, two-level
    chain, nearest-/V-is-/Off (appearance state, no text), dangling
    parent and cycle traps.
    v47: literal-string EOL semantics (ISO §7.3.4.2) — pages drawing
    raw CR/CRLF EOLs inside literals (read as LF), backslash-EOL
    continuations in all three forms (read as nothing), and escaped
    \r / octal \015 CR bytes (kept).
    v48: #XX name escapes (ISO §7.3.5) — resource keys and Tf
    operands draw their escape independently (any mix must match);
    ~6% of pages write their /Type value as /Pa#67e.
    v49: ~40% of form XObjects carry a /BBox (ISO §8.10.1) —
    generous, tight (clips the 2nd+ letterhead lines), reversed
    corners, and malformed (no clip) forms.
    v51: ~10% of pages draw clipping paths (ISO §8.5.4) — page-wide
    re W n (all visible), q-scoped band clips with one line kept and
    one clipped, and traps (rect-less W, plain fill, W*).
    v52: ~10% of payloads carry /ExtGState alpha states (ISO §8.4.5)
    — q-scoped /ca-0 watermark layers, ghosted-then-restored lines,
    and no-op traps (unknown name, no-/ca entry, bare gs).
    v27: ~10% of payloads carry /Annots (ISO 32000 §12.5) — FreeText
    sticky notes (literal, hex and UTF-16BE-BOM /Contents forms), filled
    Widget /V field values, ignored Link annotations, hidden/NoView /F
    flags (suppressed + counted), ref'd-array and inline /Annots forms,
    dangling refs and malformed-rect/missing-contents traps.
    v28: annotated pages also draw the §12.5.6 markup set — /Text sticky
    notes (inert /Open //Name noise), Highlight/StrikeOut/Underline/Stamp
    review comments (inert /QuadPoints) — and ~25% pair one annotation
    with a /Popup object listed in /Annots whose /Contents must NOT
    extract (§12.5.6.14 duplicate-text rule).
    v16: ~35% of section tails grow a classic xref table + startxref
    (inert bytes to the xref-free scanner); ~12% of non-encrypted
    payloads append an incremental-update section (ISO §7.5.6) that
    redefines a content stream (sometimes a non-last page — the pinned
    reading-order degrade), a split page's part, the ToUnicode CMap
    stream, or the page dict itself (old content stays live — the pinned
    reference-free degrade); ~3% plant a single-section duplicate object
    (ONE %%EOF: malformed input, both definitions stay live)."""
    letter = rng.random() < 0.8
    mb_w, mb_h = (612, 792) if letter else (595, 842)
    n_roll = rng.random()
    n_pages = 3 if n_roll < 0.06 else (2 if n_roll < 0.26 else 1)
    use_cm = rng.random() < 0.25  # v20: q/Q/cm-positioned blocks
    use_mc = rng.random() < 0.35  # v24: marked-content payloads
    use_widths = rng.random() < 0.14  # v25: per-code advance widths
    # v56: a widths-LESS core font rides /F1 — builtin AFM metrics
    use_corefont = not use_widths and rng.random() < 0.10
    use_annots = rng.random() < 0.10  # v27: text-bearing annotations
    use_oc = rng.random() < 0.12  # v36: optional-content layers
    use_egs = rng.random() < 0.10  # v52: ExtGState fill-alpha states
    annot_objs: List[tuple] = []
    # v21: page-tree ordering draws (see the docstring)
    shuffle_pages = n_pages >= 2 and rng.random() < 0.5
    nested_tree = n_pages >= 2 and rng.random() < 0.25
    tree_trap_roll = rng.random()
    tree_trap = tree_trap_roll < 0.10
    use_forms = rng.random() < 0.30
    form_nested = use_forms and rng.random() < 0.40
    form_cycle = form_nested and rng.random() < 0.25

    # v6 font schemes: ("shift", k) → code = ord+k over '#'..'~' (one
    # bfrange back); ("cid", {}) → on-demand 2-byte codes from 0x0100
    # (bfchar list). scheme2 exercises mid-page Tf switching.
    scheme = scheme2 = None
    r2 = rng.random()
    if r2 < 0.30:
        scheme = ("shift", rng.randint(1, 5)) if rng.random() < 0.6 else ("cid", {})
        if rng.random() < 0.25:
            scheme2 = ("cid", {}) if scheme[0] == "shift" else ("shift", 6)
    elif r2 < 0.40:  # v13: /Encoding /Differences simple font
        scheme = ("diff", _mk_diffmap(rng))
        if rng.random() < 0.20:
            scheme2 = ("shift", 4)
    elif r2 < 0.50:  # v18: base-encoding simple font (Annex D.2)
        scheme = ("winansi" if rng.random() < 0.6 else "macroman", None)
        if rng.random() < 0.15:
            scheme2 = ("shift", 3)
    elif r2 < 0.62:  # v31: Identity-H/-V Type0 without ToUnicode
        # v61: ~1/4 draw the UTF-16 predefined-CMap flavor (astral chars
        # as surrogate PAIRS); v62: ~1/8 the UTF-32 flavor (4-byte code
        # points); the rest stay Identity/UCS2 2-byte
        r61 = rng.random()
        kind2 = "id4u" if r61 < 0.125 else ("id2u" if r61 < 0.375 else "id2")
        scheme = (kind2, "H" if rng.random() < 0.8 else "V")
        if rng.random() < 0.20:
            scheme2 = ("shift", 4)

    def _codes(sent: str, sch) -> str:
        kind, m = sch
        out = []
        for ch in sent:
            o = ord(ch)
            if kind == "shift":
                out.append(
                    f"{o + m:02X}" if 0x23 <= o <= 0x7E
                    else f"{o:02X}" if o <= 0xFF else "3F"
                )
            elif kind == "diff":  # v13: mapped chars by code, ASCII identity
                c = m.get(ch)
                out.append(
                    f"{c:02X}" if c is not None
                    else f"{o:02X}" if 0x20 <= o <= 0x7E else "3F"
                )
            elif kind in ("winansi", "macroman"):
                # v18: encode through the published codec (generation-side
                # only — the kernel and oracle decode independently)
                try:
                    out.append(
                        ch.encode(
                            "cp1252" if kind == "winansi" else "mac_roman"
                        ).hex().upper()
                    )
                except UnicodeEncodeError:
                    out.append("3F")
            elif kind == "id2":  # v31: CID == UTF-16BE code unit
                out.append(f"{o:04X}" if o <= 0xFFFF else "FFFD")
            elif kind == "id2u":  # v61: UTF-16BE incl. surrogate pairs
                if o <= 0xFFFF:
                    out.append(f"{o:04X}")
                else:
                    o2 = o - 0x10000
                    out.append(
                        f"{0xD800 + (o2 >> 10):04X}"
                        f"{0xDC00 + (o2 & 0x3FF):04X}"
                    )
            elif kind == "id4u":  # v62: UTF-32BE 4-byte code points
                out.append(f"{o:08X}")
            else:
                out.append(f"{m.setdefault(ch, 0x0100 + len(m)):04X}")
        return "".join(out)

    def _id2_decorate(rng_, sent: str) -> str:
        # v31: salt with BMP glyphs a CID font exists to draw (Greek,
        # Cyrillic, CJK, typographic marks) — all identity-decodable
        ws = sent.split(" ")
        i = rng_.randrange(len(ws))
        ws[i] = rng_.choice(
            (f"αβγ {ws[i]}", f"{ws[i]} привет", f"你好{ws[i]}",
             f"{ws[i]}—em", f"№{ws[i]}", f"{ws[i]} 数据")
        )
        return " ".join(ws)

    def _id2u_decorate(rng_, sent: str) -> str:
        # v61: salt with ASTRAL glyphs (emoji, math alphanumerics, CJK
        # ext-B) that only a pair-combining decode recovers, plus BMP
        # controls for the mixed case
        ws = sent.split(" ")
        i = rng_.randrange(len(ws))
        ws[i] = rng_.choice(
            (f"😀{ws[i]}", f"{ws[i]} 𝒜𝓑", f"𠀋{ws[i]}",
             f"{ws[i]} 🚀🎉", f"汉{ws[i]}𪚥", f"𝕏 {ws[i]}")
        )
        return " ".join(ws)

    def _base_decorate(rng_, sent: str, kind: str) -> str:
        # v18: salt the sentence with glyphs that live in the high half of
        # the base encoding (plus the '$'→bullet Differences-overlay marker)
        ws = sent.split(" ")
        i = rng_.randrange(len(ws))
        if kind == "winansi":
            ws[i] = rng_.choice(
                (f"“{ws[i]}”", f"‘{ws[i]}’",
                 f"{ws[i]}™", f"•{ws[i]}",
                 f"{ws[i]} — €", f"${ws[i]}")
            )
        else:
            ws[i] = rng_.choice(
                (f"«{ws[i]}»", f"{ws[i]}é",
                 f"{ws[i]}°", f"≈{ws[i]}",
                 f"{ws[i]}…", f"${ws[i]}")
            )
        return " ".join(ws)

    def show(sent: str, sch=None) -> str:
        roll = rng.random()
        if sch is not None and sch[0] == "diff":
            sent = _diff_decorate(rng, sent, sch[1])
        elif sch is not None and sch[0] in ("winansi", "macroman"):
            sent = _base_decorate(rng, sent, sch[0])
        elif sch is not None and sch[0] == "id2" and rng.random() < 0.7:
            sent = _id2_decorate(rng, sent)
        elif (
            sch is not None
            and sch[0] in ("id2u", "id4u")
            and rng.random() < 0.8
        ):
            sent = _id2u_decorate(rng, sent)
        if sch is not None:  # encoded shows: hex-string or literal forms
            if sch[0] in ("id2", "id2u") and roll < 0.12:
                # v31 traps: odd trailing byte (identity char) and a
                # LONE surrogate code — U+FFFD under both flavors (a
                # trailing high surrogate has no low to pair with)
                tail = rng.choice(("41", "D801", "DC05"))
                return f"<{_codes(sent, sch)}{tail}> Tj"
            if sch[0] == "id4u" and roll < 0.12:
                # v62 traps: short tail (identity chars), out-of-range
                # scalar and a surrogate code point — both U+FFFD
                tail = rng.choice(("41", "0042", "00110000", "0000D805"))
                return f"<{_codes(sent, sch)}{tail}> Tj"
            if roll < 0.45:
                return f"<{_codes(sent, sch)}> Tj"
            if roll < 0.60:  # v23: escaped literal-string form — octal
                # escapes carry the non-printable code bytes (ISO §7.3.4.2)
                return f"({_lit_escape(_codes(sent, sch))}) Tj"
            if roll < 0.8:  # TJ with a kerning-space join
                ws = sent.split(" ")
                cut = rng.randint(1, max(1, len(ws) - 1))
                a, b = " ".join(ws[:cut]), " ".join(ws[cut:])
                return (
                    f"[<{_codes(a, sch)}> {-rng.randint(180, 400)}"
                    f" <{_codes(b, sch)}>] TJ"
                )
            return (
                f"<{_codes(sent, sch)}> Tj"
                f" <{_codes(' ' + _sent(rng, words, 2), sch)}> Tj"
            )
        if roll < 0.45:
            return f"({_pdf_str(sent)}) Tj"
        if roll < 0.65:  # TJ with a kerning-space join
            ws = sent.split(" ")
            cut = rng.randint(1, max(1, len(ws) - 1))
            a, b = " ".join(ws[:cut]), " ".join(ws[cut:])
            return f"[({_pdf_str(a)}) {-rng.randint(180, 400)} ({_pdf_str(b)})] TJ"
        if roll < 0.80:  # hex string
            return "<" + "".join(f"{ord(c):02X}" for c in sent) + "> Tj"
        if roll < 0.90:  # parens + octal escapes in the text
            return f"(\\({_pdf_str(sent)}\\) \\050oct\\051) Tj"
        # two consecutive shows on one line
        ws = sent.split(" ")
        cut = max(1, len(ws) // 2)
        return (
            f"({_pdf_str(' '.join(ws[:cut]))}) Tj"
            f" ( {_pdf_str(' '.join(ws[cut:]))}) Tj"
        )

    def _at_line(sch=None) -> str:
        # v24: a hyphenation-fix /ActualText span (ISO §14.8.2.2) — the
        # drawn fragments are replaced by the declared text; the operand
        # rides plain-literal, hex-UTF-16BE-BOM or octal-literal-BOM form
        sent = _sent(rng, words, rng.randint(3, 6))
        if rng.random() < 0.25:  # non-ASCII replacement text
            sent = rng.choice(("café ", "naïve ", "“quoted” ")) + sent
        r = rng.random()
        if r < 0.35:
            at = f"({_pdf_str(sent)})"
        elif r < 0.60:
            at = "<FEFF" + "".join(f"{ord(c):04X}" for c in sent) + ">"
        elif r < 0.80:  # v40: PDF 2.0 UTF-8 BOM hex form
            at = "<EFBBBF" + sent.encode("utf-8").hex().upper() + ">"
        else:
            at = (
                "(\\376\\377"
                + "".join(
                    f"\\{ord(c) >> 8:03o}\\{ord(c) & 0xFF:03o}" for c in sent
                )
                + ")"
            )
        ws2 = sent.split(" ")
        cut = max(1, len(ws2) // 2)
        fa, fb = " ".join(ws2[:cut]) + "-", " ".join(ws2[cut:])
        draw = (
            f"({_pdf_str(fa)}) Tj ({_pdf_str(fb)}) Tj"
            if sch is None
            else f"<{_codes(fa, sch)}> Tj <{_codes(fb, sch)}> Tj"
        )
        return f"/Span << /ActualText {at} >> BDC {draw} EMC"

    def _annot_body(kind: str, popup_ref: str = "") -> str:
        # v27: annotation objects (ISO 32000 §12.5) — FreeText notes,
        # filled Widget fields, ignored Links, and malformed traps.
        # v28: the §12.5.6 markup set (/Text sticky notes, Highlight /
        # StrikeOut / Stamp review comments with inert /QuadPoints //Name
        # //Open noise keys) whose /Contents must extract too.
        x0, y0 = rng.randint(60, 380), rng.randint(120, 600)
        x1, y1 = x0 + rng.randint(80, 200), y0 + rng.randint(14, 40)
        rect = f"[{x0} {y0} {x1} {y1}]"
        txt = _sent(rng, words, rng.randint(2, 5))
        r = rng.random()
        hidden = (
            " /F 2" if r < 0.12 else
            " /F 32" if r < 0.18 else
            " /F 4" if r < 0.30 else ""  # Print flag: NOT hidden
        )
        if kind == "textnote":  # v28: sticky note (/Text)
            noise = " /Open true /Name /Comment" if rng.random() < 0.5 else ""
            return (
                f"<< /Type /Annot /Subtype /Text /Rect {rect}{hidden}"
                f"{noise}{popup_ref} /Contents ({_pdf_str(txt)} sticky) >>"
            )
        if kind == "markup":  # v28: review-comment markup annotations
            sub = rng.choice(("Highlight", "StrikeOut", "Underline", "Stamp"))
            quad = ""
            if sub != "Stamp" and rng.random() < 0.6:
                quad = (
                    f" /QuadPoints [{x0} {y1} {x1} {y1} {x0} {y0} {x1} {y0}]"
                )
            name = " /Name /Draft" if sub == "Stamp" and rng.random() < 0.5 else ""
            return (
                f"<< /Type /Annot /Subtype /{sub} /Rect {rect}{hidden}"
                f"{quad}{name}{popup_ref} /Contents ({_pdf_str(txt)} remark) >>"
            )
        if kind == "freetext":
            enc = rng.random()
            if enc < 0.50:
                val = f"({_pdf_str(txt + ' note')})"
            elif enc < 0.70:  # UTF-16BE BOM hex form
                val = (
                    "<FEFF"
                    + "".join(f"{ord(c):04X}" for c in (txt + " nóte"))
                    + ">"
                )
            elif enc < 0.88:  # v40: PDF 2.0 UTF-8 BOM form (hex or literal)
                u8 = (txt + " ünicode nøte").encode("utf-8")
                if rng.random() < 0.5:
                    val = "<EFBBBF" + u8.hex().upper() + ">"
                else:
                    val = (
                        "(\357\273\277"
                        + "".join(
                            chr(b) if 0x20 <= b <= 0x7E and chr(b) not in "()\\"
                            else f"\\{b:03o}"
                            for b in u8
                        )
                        + ")"
                    )
            else:  # plain hex form
                val = "<" + "".join(f"{ord(c):02X}" for c in (txt + " note")) + ">"
            return (
                f"<< /Type /Annot /Subtype /FreeText /Rect {rect}{hidden}"
                f"{popup_ref} /Contents {val} >>"
            )
        if kind == "widget":
            return (
                f"<< /Type /Annot /Subtype /Widget /FT /Tx /Rect {rect}"
                f"{hidden} /V ({_pdf_str(txt)} value) >>"
            )
        if kind == "link":  # ignored subtype: never extracted
            return (
                f"<< /Type /Annot /Subtype /Link /Rect {rect}"
                f" /Contents ({_pdf_str(txt)}) >>"
            )
        tr = rng.random()  # traps: all must skip silently
        if tr < 0.35:  # missing /Rect
            return (
                f"<< /Type /Annot /Subtype /FreeText /Contents"
                f" ({_pdf_str(txt)}) >>"
            )
        if tr < 0.70:  # malformed /Rect
            return (
                f"<< /Type /Annot /Subtype /FreeText /Rect [10 10 zz 30]"
                f" /Contents ({_pdf_str(txt)}) >>"
            )
        # FreeText with no /Contents string
        return f"<< /Type /Annot /Subtype /FreeText /Rect {rect} >>"

    # v48: #XX name escapes (ISO §7.3.5) — an escaped Tf operand must
    # match its plain resource key and vice versa, so the operand and
    # the key draw their escape INDEPENDENTLY
    esc48_key = rng.random() < 0.10
    esc48_op = rng.random() < 0.10
    body_font = ("/F#39" if esc48_op else "/F9") if scheme else "/F1"
    streams = []
    for _page in range(n_pages):
        fs = rng.choice((9, 10, 12))
        ll = fs + rng.randint(3, 6)
        ops = ["BT"]
        if rng.random() < 0.7:  # header band (always /F1 — identity)
            hdr = f"({_pdf_str(_sent(rng, words, 3))} header) Tj"
            if use_mc and rng.random() < 0.55:
                # v24: real producers mark pagination as /Artifact
                mark = (
                    "/Artifact << /Type /Pagination /Subtype /Header >> BDC"
                    if rng.random() < 0.6
                    else "/Artifact BMC"
                )
                ops += [f"/F1 8 Tf 72 {mb_h - 26} Td", mark, hdr, "EMC"]
            else:
                ops += [f"/F1 8 Tf 72 {mb_h - 26} Td", hdr]
        ops.append("ET")
        if use_egs and rng.random() < 0.75:  # v52: gs alpha states
            r52 = rng.random()
            wm = _pdf_str(_sent(rng, words, rng.randint(2, 4)))
            if r52 < 0.45:  # q-scoped alpha-0 watermark layer
                ops.append(
                    f"q /GA gs BT /F1 18 Tf 140 {mb_h // 2} Td"
                    f" ({wm} watermark) Tj ET Q"
                )
            elif r52 < 0.70:  # explicit restore via a visible state
                ops.append(
                    f"BT /F1 {fs} Tf /GA gs 72 {mb_h - 180} Td"
                    f" ({wm} ghosted) Tj /GB gs 0 -{ll} Td"
                    f" ({wm} restored text) Tj ET"
                )
            else:  # traps: unknown name, /GM no-op, operandless gs
                ops.append(rng.choice((
                    f"BT /F1 {fs} Tf /Zz gs 72 {mb_h - 180} Td"
                    f" ({wm} unknown noop) Tj ET",
                    f"BT /F1 {fs} Tf /GM gs 72 {mb_h - 180} Td"
                    f" ({wm} gm noop) Tj ET",
                    f"BT /F1 {fs} Tf gs 72 {mb_h - 180} Td"
                    f" ({wm} bare noop) Tj ET",
                )))
        if rng.random() < 0.10:  # v51: clipping paths (re W n)
            r51 = rng.random()
            if r51 < 0.35:  # page-wide clip: everything stays visible
                ops.append(f"0 0 {mb_w} {mb_h} re W n")
            elif r51 < 0.75:  # q-scoped band clip: one line in, one out
                ops.append("q")
                ops.append(f"40 {mb_h - 150} {mb_w - 80} 120 re W n")
                ops.append("BT")
                ops.append(
                    f"/F1 {fs} Tf 72 {mb_h - 100} Td"
                    f" ({_pdf_str(_sent(rng, words, 3))} banner kept) Tj"
                )
                ops.append(
                    f"1 0 0 1 72 {mb_h // 2} Tm"
                    f" ({_pdf_str(_sent(rng, words, 3))} clipped away) Tj"
                )
                ops.append("ET")
                ops.append("Q")
            else:  # traps: rect-less W, plain fill, W* form
                ops.append(rng.choice((
                    "W n",
                    "30 30 80 40 re f",
                    f"0 0 {mb_w} {mb_h} re W* n",
                )))
        if rng.random() < 0.2:  # v8: inline image between text objects
            ops.append(_inline_img(rng))
        if use_forms:  # v9: letterhead form + hostile Do targets
            if use_mc and rng.random() < 0.30:
                # v24: artifact-wrapped Do — the form's shows still render
                # (forms get a FRESH marked-content stack)
                ops.append("/Artifact BMC /Fx Do EMC")
            else:
                ops.append("/Fx Do")
            r = rng.random()
            if r < 0.30:
                ops.append("/Im Do")  # image XObject: must no-op
            elif r < 0.50:
                ops.append("/Zz Do")   # unknown name: must no-op
                ops.append("/Bad Do")  # page content stream (no /Subtype)
            elif r < 0.60:
                ops.append("Do")  # missing operand: must no-op
        if rng.random() < 0.12:  # v9: scanned-OCR page — image + Tr 3 layer
            ops.append(_inline_img(rng))
            ops.append("BT")
            # v43: the OCR layer draws mode 3 or the clip-only mode 7 —
            # both paint nothing (ISO §9.3.6)
            ops.append(
                f"/F1 {fs} Tf {ll} TL {rng.choice((3, 3, 7))} Tr"
                f" 72 {mb_h - 120} Td"
            )
            for li in range(rng.randint(2, 5)):
                if li:
                    ops.append("T*")
                ops.append(f"({_pdf_str(_sent(rng, words, rng.randint(4, 9)))}) Tj")
            if rng.random() < 0.4:  # visible caption after switching back
                ops.append(
                    f"0 Tr 0 -{ll * 2} Td"
                    f" ({_pdf_str(_sent(rng, words, 3))} caption) Tj"
                )
            ops.append("ET")
        elif rng.random() < 0.10:  # v47: literal-string EOL semantics
            # (ISO §7.3.4.2): raw CR/CRLF inside a literal reads as LF;
            # a backslash before any EOL form is a continuation (reads
            # as nothing); escaped \r / octal \015 stay CR bytes
            a47, b47, c47 = (rng.choice(words) for _ in range(3))
            r47 = rng.random()
            if r47 < 0.35:  # raw EOLs split words at whitespace
                body47 = f"({a47} split\r\n{b47} lines\r{c47} here) Tj"
            elif r47 < 0.70:  # continuations join the halves seamlessly
                half = rng.choice(("\\\r\n", "\\\r", "\\\n"))
                body47 = f"({a47} conti{half}nued {b47} text) Tj"
            else:  # escape forms keep their CR bytes (assembly spaces)
                body47 = f"({a47} cr\\rhere {b47} oct\\015there) Tj"
            ops.append("BT")
            ops.append(f"/F1 {fs} Tf 72 {mb_h - 92} Td {body47}")
            ops.append("ET")
        elif rng.random() < 0.35:  # two columns, one BT block each, Tm-positioned
            for col, x in enumerate((72, 330)):
                sch = scheme2 if (col and scheme2) else scheme
                fnt = "/F8" if (col and scheme2) else body_font
                ops.append("BT")
                ops.append(f"{fnt} {fs} Tf {ll} TL 1 0 0 1 {x} {mb_h - 92} Tm")
                for li in range(rng.randint(2, 4)):
                    if li:
                        ops.append("T*")
                    ops.append(show(_sent(rng, words, rng.randint(3, 5)), sch))
                ops.append("ET")
        else:  # single column
            sch = scheme
            ops.append("BT")
            ops.append(f"{body_font} {fs} Tf {ll} TL 72 {mb_h - 92} Td")
            for li in range(rng.randint(3, 6)):
                if li == 2 and scheme2:  # mid-page font + CMap switch
                    sch = scheme2
                    ops.append(f"/F8 {fs} Tf")
                if li == 1 and rng.random() < 0.15:
                    # v8: inline image INSIDE the text object — x/y/leading/
                    # font state must survive it untouched
                    ops.append(_inline_img(rng))
                if li == 1 and rng.random() < 0.08:
                    # v9: a visible render mode — extraction unchanged
                    # (v43: 4-6 fill/stroke AND clip — still visible)
                    ops.append(f"{rng.choice((0, 1, 2, 4, 5, 6))} Tr")
                if li == 1 and rng.random() < 0.10:
                    # v11: char/word spacing feed the advance estimate
                    ops.append(
                        f"{rng.choice((0.4, 1, 2, -0.3))} Tc"
                        f" {rng.choice((1, 3, -1))} Tw"
                    )
                if li == 2 and rng.random() < 0.10:
                    # v12: horizontal scaling scales the advance (a negative
                    # value clamps it to 0); rise shifts the baseline
                    ops.append(
                        f"{rng.choice((50, 120, 200, -40))} Tz"
                        f" {rng.choice((3, -2, 0.5))} Ts"
                    )
                if li == 2 and use_forms and rng.random() < 0.25:
                    # v9: Do INSIDE the text object — invoker x/y/leading/
                    # font/buffer state must survive it untouched
                    ops.append("/Fx Do")
                if li:
                    r = rng.random()
                    if r < 0.5:
                        ops.append("T*")
                    elif r < 0.8:
                        ops.append(f"0 -{ll} Td")
                    else:
                        sent = _sent(rng, words, rng.randint(4, 8))
                        if sch is not None and sch[0] == "diff":
                            sent = _diff_decorate(rng, sent, sch[1])
                        elif sch is not None and sch[0] in (
                            "winansi", "macroman"
                        ):
                            sent = _base_decorate(rng, sent, sch[0])
                        sstr = (
                            f"<{_codes(sent, sch)}>" if sch is not None
                            else f"({_pdf_str(sent)})"
                        )
                        if rng.random() < 0.4:
                            # v13: aw ac string " — word/char spacing set
                            # by the show op itself, persisting after
                            aw = rng.choice((2, 4, -1, 0.5))
                            ac = rng.choice((0.5, 1.5, -0.3))
                            ops.append(f'{aw} {ac} {sstr} "')
                        else:
                            ops.append(f"{sstr} '")
                        continue
                if use_mc and li == 2 and rng.random() < 0.45:
                    # v24: hyphenation-fix /ActualText span in the body
                    ops.append(_at_line(sch))
                else:
                    ops.append(show(_sent(rng, words, rng.randint(4, 10)), sch))
            ops.append("ET")
        if use_cm and rng.random() < 0.9:
            # v20: graphics-state positioned block (ISO §8.4.4) — the
            # Cairo/Chrome-print style: q saves, cm concatenates the CTM,
            # text places at small local coordinates, Q restores.
            r = rng.random()
            cx, cy = rng.randint(55, 95), rng.randint(260, 560)
            l1 = show(_sent(rng, words, rng.randint(3, 6)))
            l2 = show(_sent(rng, words, rng.randint(3, 6)))
            if r < 0.30:  # translate-only cm, local Td at the origin
                ops += ["q", f"1 0 0 1 {cx} {cy} cm",
                        f"BT /F1 {fs} Tf {ll} TL 0 0 Td", l1, "T*", l2,
                        "ET", "Q"]
            elif r < 0.50:  # scaled placement
                sxc, syc = rng.choice(
                    ((2, 0.5), (0.5, 2), (1.5, 1.5), (0.75, 0.75))
                )
                ops += ["q", f"{sxc} 0 0 {syc} {cx} {cy} cm",
                        f"BT /F1 {fs} Tf 10 20 Td", l1, "ET", "Q"]
            elif r < 0.65:  # nested q/q — cms compose; sibling after inner Q
                ops += ["q", f"1 0 0 1 {cx} 0 cm",
                        "q", f"1 0 0 1 0 {cy} cm",
                        f"BT /F1 {fs} Tf 0 0 Td", l1, "ET", "Q",
                        f"BT /F1 {fs} Tf 0 {cy - 30} Td", l2, "ET", "Q"]
            elif r < 0.75:  # rotated cm: the pinned axis-aligned anchor box
                ops += ["q",
                        f"0 1 -1 0 {rng.randint(250, 420)}"
                        f" {rng.randint(80, 240)} cm",
                        f"BT /F1 {fs} Tf 15 0 Td", l1, "ET", "Q"]
            elif r < 0.88:  # Q restores text state set inside q..Q
                ops += ["q", f"1 0 0 1 {cx} {cy} cm",
                        f"BT /F1 {fs + 2} Tf 2 Tc 3 Tw 0 0 Td", l1, "ET",
                        "Q",
                        f"BT /F1 {fs} Tf {cx} {cy - 40} Td", l2, "ET"]
            else:  # traps: unbalanced Q, 5-operand cm, cm inside BT
                ops += ["Q",
                        f"q 1 0 0 {cy} cm",
                        f"BT /F1 {fs} Tf {cx} {cy} Td", l1,
                        f"1 0 0 1 0 -{ll * 2} cm", l2, "ET", "Q", "Q"]
        if use_oc and rng.random() < 0.85:
            # v36: optional-content layers — an OFF /WM watermark (must
            # vanish), an ON /VIS layer (must render), the /MD OCMD
            # (verdict per its /OCGs draw), and render traps (unknown
            # name, inline dict, BMC /OC)
            roc2 = rng.random()
            wmtxt = f"(LAYER {_pdf_str(_sent(rng, words, 2))}) Tj"
            vistxt = f"({_pdf_str(_sent(rng, words, 4))} layered) Tj"
            if roc2 < 0.40:
                ops += [
                    "BT", f"/F1 {rng.choice((18, 24))} Tf"
                    f" {rng.randint(140, 300)} {rng.randint(320, 520)} Td",
                    "/OC /WM BDC", wmtxt, "EMC",
                    f"0 -30 Td /OC /VIS BDC {vistxt} EMC", "ET",
                ]
            elif roc2 < 0.60:  # the OCMD-gated layer
                ops += [
                    "BT", f"/F1 10 Tf 90 {rng.randint(260, 480)} Td",
                    "/OC /MD BDC", vistxt, "EMC", "ET",
                ]
            elif roc2 < 0.75:  # nested: visible layer inside hidden one
                ops += [
                    "BT", f"/F1 11 Tf 96 {rng.randint(250, 470)} Td",
                    "/OC /WM BDC", wmtxt,
                    "/OC /VIS BDC", wmtxt, "EMC", "EMC",
                    f"0 -28 Td {vistxt}", "ET",
                ]
            else:  # render traps
                ops += [
                    "BT", f"/F1 10 Tf 102 {rng.randint(240, 460)} Td",
                    rng.choice((
                        f"/OC /Zq BDC {vistxt} EMC",          # unknown name
                        f"/OC << /Type /OCG >> BDC {vistxt} EMC",  # inline
                        f"/OC BMC {vistxt} EMC",             # no property
                    )),
                    "ET",
                ]
        if scheme and scheme[0] in ("id2", "id2u", "id4u", "cid") and rng.random() < 0.30:
            # v38: word spacing vs multi-byte codes — a large Tw must NOT
            # widen 2-byte 0x0020 codes (ISO §9.3.3); the widths regime
            # (v33 descendants ride these schemes) makes it observable
            ops += [
                "BT",
                f"{body_font} {fs} Tf {rng.choice((4, 6, 9))} Tw"
                f" 72 {rng.randint(150, 230)} Td",
                show(_sent(rng, words, rng.randint(3, 5)), scheme),
                "ET",
            ]
        if use_mc and rng.random() < 0.22:
            # v24: a mid-page watermark artifact — unlike the header band
            # (which the y-band rule drops anyway) this would otherwise be
            # KEPT, so suppression is visible in the golden
            ops += [
                "BT",
                f"/F1 {rng.choice((18, 24))} Tf"
                f" {rng.randint(140, 300)} {rng.randint(320, 520)} Td",
                "/Artifact << /Type /Layout >> BDC",
                f"(DRAFT {_pdf_str(_sent(rng, words, 2))}) Tj",
                "EMC", "ET",
            ]
        if use_mc and rng.random() < 0.18:
            # v24 traps (SPEC §3b Marked content degrades)
            trap = rng.random()
            if trap < 0.22:
                ops.insert(0, "EMC")  # unbalanced: inert
            elif trap < 0.42:  # zero-show level: contributes nothing
                ops += ["BT /F1 9 Tf 200 200 Td",
                        "/Span << /ActualText (never-used) >> BDC EMC",
                        f"({_pdf_str(_sent(rng, words, 3))}) Tj", "ET"]
            elif trap < 0.62:  # number-first BDC: untagged, renders
                ops += ["BT /F1 9 Tf 210 240 Td",
                        f"7 /Artifact BDC ({_pdf_str(_sent(rng, words, 3))}"
                        " untag) Tj EMC", "ET"]
            elif trap < 0.82:  # ref in the property dict clears the stack
                ops += ["BT /F1 9 Tf 220 260 Td",
                        "/Artifact << /Md 9 0 R >> BDC"
                        f" ({_pdf_str(_sent(rng, words, 3))} refclear) Tj"
                        " EMC", "ET"]
            else:  # named-props artifact: the tag rule still suppresses
                ops += ["BT /F1 9 Tf 230 280 Td",
                        f"/Artifact /P0 BDC ({_pdf_str(_sent(rng, words, 2))})"
                        " Tj EMC", "ET"]
        if rng.random() < 0.15:  # v8: inline image before the footer
            ops.append(_inline_img(rng))
        if rng.random() < 0.7:  # footer band (always /F1 — identity)
            ftr = f"(page {_page} footer) Tj"
            if use_mc and rng.random() < 0.55:
                ops += ["BT", "/F1 8 Tf 72 18 Td",
                        "/Artifact << /Type /Pagination /Subtype /Footer >>"
                        " BDC", ftr, "EMC", "ET"]
            else:
                ops += ["BT", "/F1 8 Tf 72 18 Td", ftr, "ET"]
        else:
            ops.append("BT ET")
        streams.append("\n".join(ops))

    # v10 rotation draw: Pages-node /Rotate (inherited), a per-page
    # /Rotate (incl. 360/450 normalization and a non-multiple 45 → 0), or
    # none. Kept rare so most goldens stay upright.
    rot_roll = rng.random()
    pages_rot = f" /Rotate {rng.choice((90, 180, 270))}" if rot_roll < 0.05 else ""
    if rng.random() < 0.04:  # v19: inherited margin crop on the Pages node
        pages_rot += f" /CropBox [36 36 {mb_w - 36} {mb_h - 36}]"
    page_rot = (
        f" /Rotate {rng.choice((90, 180, 270, 360, 450, 45))}"
        if not pages_rot and rot_roll < 0.11
        else ""
    )
    # v21: tree shape — root /Kids, optional nested Pages node (object 80;
    # wrapped pages inherit MediaBox/Resources/Rotate through TWO /Parent
    # hops), and the trap draws
    kid_refs = [f"{3 + i} 0 R" for i in range(n_pages)]
    parents = ["2 0 R"] * n_pages
    sub_kids = None
    if nested_tree:
        if n_pages == 2:
            sub_kids, kid_refs = kid_refs, ["80 0 R"]
            parents = ["80 0 R"] * 2
        else:
            sub_kids, kid_refs = kid_refs[1:], [kid_refs[0], "80 0 R"]
            parents = ["2 0 R"] + ["80 0 R"] * (n_pages - 1)
    root_ref = "1 0 R"
    orphan_page = False
    if tree_trap:
        if tree_trap_roll < 0.030:
            kid_refs.insert(0, "99 0 R")  # missing kid: the walk skips it
        elif tree_trap_roll < 0.055:
            kid_refs.append(kid_refs[0])  # duplicate listing: visited guard
        elif tree_trap_roll < 0.075:
            # cycle back to the root node: visited guard absorbs it
            (sub_kids if sub_kids is not None else kid_refs).append("2 0 R")
        elif tree_trap_roll < 0.090:
            root_ref = "77 0 R"  # dead catalog ref: byte order stands
        else:
            orphan_page = True  # page outside the tree: appended after
    oc_decl = ""
    if use_oc:
        roc = rng.random()
        don = " /ON [57 0 R]" if rng.random() < 0.5 else ""
        if roc < 0.10:  # trap: no /OFF — nothing hides
            dcfg = f"/D <<{don} /Name (cfg) >>"
        elif roc < 0.25:  # dangling ref in /OFF (harmless) + real OFF
            dcfg = f"/D << /OFF [97 0 R 56 0 R]{don} >>"
        else:
            dcfg = f"/D << /OFF [56 0 R]{don} >>"
        oc_inner = f"/OCGs [56 0 R 57 0 R] {dcfg}"
        oc_refd = rng.random() < 0.25
        if oc_refd:  # ref'd /OCProperties dict
            oc_decl = " /OCProperties 59 0 R"
        else:
            oc_decl = f" /OCProperties << {oc_inner} >>"
    objs = [
        f"<< /Type /Catalog /Pages 2 0 R{oc_decl} >>",
        f"<< /Type /Pages /Kids [{' '.join(kid_refs)}]"
        f" /Count {n_pages} /MediaBox [0 0 {mb_w} {mb_h}]{pages_rot} >>",
    ]
    first_content = 3 + n_pages
    font1 = first_content + n_pages + 1  # first_content+n_pages = bad-stream obj
    xbase = font1 + 5  # v9 form/image XObject objects live after the ObjStm
    res_inner = []
    if scheme:
        ents = f"{'/F#39' if esc48_key else '/F9'} {font1} 0 R"  # v48
        if scheme2:
            ents += f" /F8 {font1 + 2} 0 R"
        res_inner.append(f"/Font << {ents} >>")
    elif use_widths or use_corefont:
        # v25: widths ride the identity /F1 (body + header/footer font)
        # v56: or a widths-less core font takes the builtin AFM table
        res_inner.append(
            f"/Font << {'/F#31' if esc48_key else '/F1'} 50 0 R >>"  # v48
        )
    if use_forms:
        res_inner.append(
            f"/XObject << /Fx {xbase} 0 R /Im {xbase + 2} 0 R"
            f" /Bad {first_content} 0 R >>"
        )
    if use_oc:
        # v36: named optional-content properties — /WM rides the OFF
        # OCG, /VIS the ON one, /MD an OCMD whose verdict varies
        res_inner.append("/Properties << /WM 56 0 R /VIS 57 0 R /MD 58 0 R >>")
    if use_egs:
        # v52: /GA = alpha 0 (hidden layer), /GB = visible alpha,
        # /GM = a no-/ca or dangling entry (gs on it changes nothing)
        res_inner.append("/ExtGState << /GA 44 0 R /GB 45 0 R /GM 46 0 R >>")
    res = f" /Resources << {' '.join(res_inner)} >>" if res_inner else ""
    # v15: ~25% of resource-bearing payloads hoist /Resources onto the
    # Pages node — every kid inherits it via the /Parent walk (ISO
    # §7.7.3.4); ~20% of those also plant a BROKEN page-level /Resources
    # (ref to a missing object) which, being PRESENT, must NOT fall
    # through to the ancestor's — those pages decode identity.
    res_page_broken = ""
    if res and rng.random() < 0.25:
        objs[1] = objs[1][:-3] + res + " >>"
        res = ""
        if rng.random() < 0.20:
            res_page_broken = " /Resources 99 0 R"
    # v14: ~12% of pages split their content into a /Contents array of 2-3
    # part streams cut at token boundaries (incl. mid-BT, so text state
    # must flow across parts); each part draws its own filter chain. Traps:
    # a never-emitted part number (~10% of splits), parts emitted in
    # reverse document order (~25%), and the one-element array form.
    pnext = xbase + 3  # first object number past the v9 XObjects
    part_objs: List[tuple] = []
    contents_val: List[str] = []
    for i, s in enumerate(streams):
        roll = rng.random()
        if roll < 0.12 and s.count("\n") >= 2:
            opslist = s.split("\n")
            ncut = rng.randint(1, min(2, len(opslist) - 1))
            cuts = sorted(rng.sample(range(1, len(opslist)), ncut))
            bounds = [0] + cuts + [len(opslist)]
            emitted = []
            nums = []
            for a, b in zip(bounds, bounds[1:]):
                emitted.append((pnext, "\n".join(opslist[a:b])))
                nums.append(pnext)
                pnext += 1
            if rng.random() < 0.25:  # document order ≠ array order
                emitted.reverse()
            part_objs.extend(emitted)
            if rng.random() < 0.10:  # missing-part trap: never emitted
                nums.insert(rng.randrange(len(nums) + 1), pnext)
                pnext += 1
            contents_val.append(
                "[" + " ".join(f"{x} 0 R" for x in nums) + "]"
            )
            streams[i] = None
        elif roll < 0.15:  # one-element array form
            contents_val.append(f"[{first_content + i} 0 R]")
        else:
            contents_val.append(f"{first_content + i} 0 R")
    for i in range(n_pages):
        extra = page_rot if i == 0 else ""
        if rng.random() < 0.06:  # v19: page-local CropBox viewport
            r = rng.random()
            if r < 0.5:  # margin crop: origin shift + smaller extent
                extra += (
                    f" /CropBox [{rng.choice((18, 36, 54))} 24"
                    f" {mb_w - 30} {mb_h - 40}]"
                )
            elif r < 0.75:  # oversize: clips to the MediaBox → no-op
                extra += " /CropBox [-50 -50 9999 9999]"
            else:  # degenerate extent: IGNORED, the /Parent walk continues
                extra += " /CropBox [100 100 100 792]"
        if rng.random() < 0.08:  # v10: page-local MediaBox
            r = rng.random()
            if r < 0.6:  # a genuinely different size
                pw, ph = rng.choice(((500, 500), (420, 595), (792, 612)))
                extra += f" /MediaBox [0 0 {pw} {ph}]"
            else:  # degenerate extent: IGNORED, the /Parent walk continues
                extra += " /MediaBox [0 0 0 792]"
        if use_annots and rng.random() < 0.7:
            base = 60 + 4 * i
            n_an = rng.randint(1, 3)
            kinds = []
            for _a in range(n_an):
                kr = rng.random()
                kinds.append(
                    "freetext" if kr < 0.28
                    else "textnote" if kr < 0.42  # v28
                    else "markup" if kr < 0.56    # v28
                    else "widget" if kr < 0.76
                    else "link" if kr < 0.90
                    else "trap"
                )
            arefs = [f"{base + a} 0 R" for a in range(n_an)]
            # v28: ~25% of annotated pages pair their last markup-capable
            # annotation with a /Popup object that DUPLICATES its
            # /Contents (ISO §12.5.6.14) — listed in /Annots as real
            # writers do; extracting it would double the text
            use_popup = rng.random() < 0.25
            if use_popup:
                pa = n_an - 1
                if kinds[pa] not in ("textnote", "markup", "freetext"):
                    kinds[pa] = "textnote"
                ptxt = _sent(rng, words, rng.randint(2, 5))
                annot_objs.append((
                    base + 3,
                    f"<< /Type /Annot /Subtype /Popup /Parent {base + pa} 0 R"
                    f" /Rect [400 400 520 460] /Contents"
                    f" ({_pdf_str(ptxt)} sticky) >>",
                ))
                if rng.random() < 0.8:
                    arefs.append(f"{base + 3} 0 R")
            if rng.random() < 0.12:  # dangling ref: resolved to nothing
                arefs.insert(rng.randrange(len(arefs) + 1), "98 0 R")
            if rng.random() < 0.20:  # ref'd array-object form
                annot_objs.append((72 + i, "[ " + " ".join(arefs) + " ]"))
                extra += f" /Annots {72 + i} 0 R"
            else:
                extra += f" /Annots [{' '.join(arefs)}]"
            for a, kind in enumerate(kinds):
                if kind == "widget" and rng.random() < 0.45:
                    # v45: the field VALUE lives on an ancestor (ISO
                    # §12.7.3.3 — radio groups / multi-widget fields);
                    # forms: direct parent, two-level chain, nearest-/V-
                    # is-/Off (no text), dangling parent, cycle trap
                    wx0, wy0 = rng.randint(60, 380), rng.randint(120, 600)
                    wrect = (
                        f"[{wx0} {wy0} {wx0 + rng.randint(80, 200)}"
                        f" {wy0 + rng.randint(14, 40)}]"
                    )
                    wtxt = _pdf_str(_sent(rng, words, rng.randint(2, 4)))
                    pnum = 140 + 4 * i + a
                    gnum = 180 + 4 * i + a
                    wdict = (
                        f"<< /Type /Annot /Subtype /Widget /Rect {wrect}"
                        f" /Parent {pnum} 0 R >>"
                    )
                    r45 = rng.random()
                    if r45 < 0.40:
                        annot_objs.append((pnum, (
                            f"<< /FT /Tx /T (fld{a}) /V ({wtxt} inherited)"
                            f" /Kids [{base + a} 0 R] >>"
                        )))
                    elif r45 < 0.60:
                        annot_objs.append((gnum, f"<< /FT /Tx /V ({wtxt} rootval) >>"))
                        annot_objs.append((pnum, f"<< /Parent {gnum} 0 R /T (mid{a}) >>"))
                    elif r45 < 0.78:  # appearance state: decides, no text
                        annot_objs.append((pnum, "<< /FT /Btn /V /Off >>"))
                    elif r45 < 0.90:  # dangling parent ref
                        wdict = (
                            f"<< /Type /Annot /Subtype /Widget /Rect {wrect}"
                            f" /Parent 97 0 R >>"
                        )
                    else:  # cycle: parent points back at the widget
                        annot_objs.append((pnum, f"<< /Parent {base + a} 0 R >>"))
                    annot_objs.append((base + a, wdict))
                    continue
                popup_ref = (
                    f" /Popup {base + 3} 0 R"
                    if use_popup and a == n_an - 1
                    else ""
                )
                annot_objs.append((base + a, _annot_body(kind, popup_ref)))
        # v48: an escaped /Type VALUE (/Pa#67e) must still detect as a
        # page when the object scan runs
        tname48 = "/Pa#67e" if rng.random() < 0.06 else "/Page"
        objs.append(
            f"<< /Type {tname48} /Parent {parents[i]} /Contents {contents_val[i]}"
            f"{res}{res_page_broken}{extra} >>"
        )

    # v7: ~40% of CMap payloads pack their page + font DICT objects into a
    # /Type /ObjStm container (ISO 32000 §7.5.7) — content and CMap streams
    # stay direct (streams cannot live inside an ObjStm)
    use_objstm = scheme is not None and rng.random() < 0.4
    objstm_inner: List[tuple] = []
    parts = ["%PDF-1.4"]
    for i, body in enumerate(objs):
        if use_objstm and i >= 2:  # page objects ride the container
            objstm_inner.append((i + 1, body))
        else:
            parts.append(f"{i + 1} 0 obj\n{body}\nendobj")
    if sub_kids is not None:  # v21: nested Pages node (dict — ObjStm-routable)
        sub_body = (
            f"<< /Type /Pages /Parent 2 0 R /Kids [{' '.join(sub_kids)}]"
            f" /Count {len(sub_kids)} >>"
        )
        if use_objstm:
            objstm_inner.append((80, sub_body))
        else:
            parts.append(f"80 0 obj\n{sub_body}\nendobj")
    if orphan_page:  # v21: a page object no /Kids array lists
        parts.append(
            "81 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 82 0 R >>\nendobj"
        )
    import base64
    import zlib

    def _hexbody(raw: bytes) -> str:
        hx = raw.hex().upper()
        return "\n".join(hx[k : k + 64] for k in range(0, len(hx), 64)) + ">"

    def _a85body(raw: bytes) -> str:
        return base64.a85encode(raw).decode("latin-1") + "~>"

    def _emit_stream(objnum: int, content: str) -> None:
        # v5: per-stream filter encoding (SPEC §3b Filters) — the decoded
        # content is byte-identical (modulo insignificant trailing-space
        # padding for the predictors), so extraction must not change
        enc = rng.random()
        raw = b""
        try:
            raw = content.encode("latin-1")
        except UnicodeEncodeError:  # non-latin-1 word pool: emit unfiltered
            enc = 0.0
        if enc < 0.40:
            body, fdecl = content, ""
        elif enc < 0.50:
            body, fdecl = _hexbody(raw), " /Filter /ASCIIHexDecode"
        elif enc < 0.60:
            body, fdecl = _a85body(raw), " /Filter /ASCII85Decode"
        elif enc < 0.70:
            body = _a85body(zlib.compress(raw, 6))
            fdecl = " /Filter [/ASCII85Decode /FlateDecode]"
        elif enc < 0.76:  # LZW behind hex
            body = _hexbody(_lzw_encode(raw))
            fdecl = " /Filter [/ASCIIHexDecode /LZWDecode]"
        elif enc < 0.80:  # LZW with EarlyChange 0 behind a85
            body = _a85body(_lzw_encode(raw, early=0))
            fdecl = (
                " /Filter [/ASCII85Decode /LZWDecode]"
                " /DecodeParms [null << /EarlyChange 0 >>]"
            )
        elif enc < 0.85:  # RunLength on the wire (latin-1-safe by definition)
            body = _rle_encode(raw).decode("latin-1")
            fdecl = " /Filter /RunLengthDecode"
        elif enc < 0.90:  # PNG predictor under flate (array-form parms)
            pred = rng.choice((10, 12, 15))
            body = _a85body(zlib.compress(_png_predict(_pad_to(raw, 24), 24), 6))
            fdecl = (
                " /Filter [/ASCII85Decode /FlateDecode]"
                f" /DecodeParms [null << /Predictor {pred} /Columns 24 >>]"
            )
        elif enc < 0.95:  # TIFF predictor under LZW (array-form parms)
            body = _hexbody(_lzw_encode(_tiff_predict(_pad_to(raw, 16), 16)))
            fdecl = (
                " /Filter [/ASCIIHexDecode /LZWDecode]"
                " /DecodeParms [null << /Predictor 2 /Columns 16 >>]"
            )
        else:  # single-dict parms applying to the LAST (compression) filter
            body = _a85body(zlib.compress(_png_predict(_pad_to(raw, 8), 8), 6))
            fdecl = (
                " /Filter [/ASCII85Decode /FlateDecode]"
                " /DecodeParms << /Predictor 15 /Columns 8 >>"
            )
        parts.append(
            f"{objnum} 0 obj\n<< /Length {len(body)}{fdecl} >>\n"
            f"stream\n{body}\nendstream\nendobj"
        )

    whole = [
        (first_content + i, content)
        for i, content in enumerate(streams)
        if content is not None  # v14: split pages emit via their parts
    ]
    if shuffle_pages and len(whole) >= 2:  # v21: byte order ≠ tree order
        before = list(whole)
        rng.shuffle(whole)
        if whole == before:
            whole.reverse()  # guarantee an out-of-order emission
    for objnum, content in whole:
        _emit_stream(objnum, content)
    if orphan_page:  # v21: the orphan page's content stream
        _emit_stream(
            82,
            "BT /F1 9 Tf 72 400 Td"
            f" ({_pdf_str(_sent(rng, words, 4))} orphan) Tj ET",
        )
    for objnum, content in part_objs:
        _emit_stream(objnum, content)
    for anum, abody in annot_objs:
        parts.append(f"{anum} 0 obj\n{abody}\nendobj")
    wdecl = ""
    if use_egs:
        # v52: the graphics-state objects — /GA always alpha 0 (the
        # hidden-watermark state), /GB visible, /GM a no-/ca entry or a
        # dangling ref (not emitted)
        parts.append(
            f"44 0 obj\n<< /Type /ExtGState /ca {rng.choice(('0', '0.0'))}"
            " >>\nendobj"
        )
        parts.append(
            f"45 0 obj\n<< /Type /ExtGState /ca"
            f" {rng.choice(('1', '0.5', '1.0'))} /BM /Normal >>\nendobj"
        )
        if rng.random() < 0.6:
            parts.append("46 0 obj\n<< /Type /ExtGState /LW 2 >>\nendobj")
    if use_corefont:
        # v56: core faces with builtin metrics; Bold/Oblique variants
        # and unknown names keep the heuristic (pinned); ~25% draw a
        # subset prefix
        bf56 = rng.choice((
            "Helvetica", "Helvetica", "Times-Roman", "Times-Roman",
            "Courier", "Courier-Bold", "Helvetica-Bold",
            "Times-Italic", "Georgia",
        ))
        if rng.random() < 0.25:
            bf56 = "ABCDEF+" + bf56
        parts.append(
            "50 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont"
            f" /{bf56} >>\nendobj"
        )
    if use_widths:
        # v25: per-code advance widths (ISO 32000 §9.7.4) — on the identity
        # /F1 (body + header/footer font) when no encoded scheme is drawn,
        # else threaded into the /F9 body font object (1-byte schemes key
        # widths by the SHIFTED codes; CID schemes exercise the multi-byte
        # MissingWidth fallback). Forms: inline array, ref array, with and
        # without a /FontDescriptor /MissingWidth; traps: missing
        # /FirstChar and a junk array token (both → no table).
        fc0 = rng.choice((32, 32, 48))
        nw = rng.randint(60, 100)
        wvals = " ".join(
            str(rng.choice((250, 333, 400, 500, 556, 611, 722, 944)))
            for _ in range(nw)
        )
        wr = rng.random()
        fd_extra = ""
        if wr < 0.30:
            fd_extra = " /FontDescriptor 52 0 R"
            parts.append(
                "52 0 obj\n<< /Type /FontDescriptor /Flags 32"
                f" /MissingWidth {rng.choice((280, 400, 600))} >>\nendobj"
            )
        if wr >= 0.85:  # traps — the table must NOT form
            wdecl = (
                f" /Widths [{wvals}]"  # no /FirstChar
                if rng.random() < 0.5
                else f" /FirstChar {fc0} /Widths [{wvals} /junk 500]"
            )
        elif wr >= 0.70:  # array as a separate (ref'd) object
            wdecl = f" /FirstChar {fc0} /Widths 51 0 R{fd_extra}"
            parts.append(f"51 0 obj\n[ {wvals} ]\nendobj")
        else:
            wdecl = f" /FirstChar {fc0} /Widths [{wvals}]{fd_extra}"
        if scheme is None:
            if rng.random() < 0.30:
                # v43: Type3 font — widths live in the glyph space the
                # /FontMatrix defines (ISO §9.6.5). The corpus draws a
                # matrix scale and re-scales the width values so the
                # rendered advances stay in the simple-font range;
                # traps: a missing matrix and a degenerate a=0 (both
                # degrade to the 1/1000 scale), a 5-number array
                # (malformed → same degrade).
                t3r = rng.random()
                if t3r < 0.55:
                    a = rng.choice((0.01, 0.002, 0.0005))
                    sc = 0.001 / a
                    wdecl_t3 = re.sub(
                        r"\b(\d+)\b",
                        lambda m: str(round(int(m.group(1)) * sc))
                        if int(m.group(1)) >= 250
                        else m.group(1),
                        wdecl,
                    )
                    fm = f" /FontMatrix [{a} 0 0 {a} 0 0]"
                elif t3r < 0.75:  # missing matrix → 1/1000 degrade
                    wdecl_t3, fm = wdecl, ""
                elif t3r < 0.90:  # degenerate a=0 → 1/1000 degrade
                    wdecl_t3, fm = wdecl, " /FontMatrix [0 0 0 0.001 0 0]"
                else:  # malformed (5 numbers) → 1/1000 degrade
                    wdecl_t3, fm = wdecl, " /FontMatrix [0.01 0 0 0.01 0]"
                parts.append(
                    "50 0 obj\n<< /Type /Font /Subtype /Type3"
                    f"{fm}{wdecl_t3} >>\nendobj"
                )
            else:
                parts.append(
                    "50 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont"
                    f" /Helvetica{wdecl} >>\nendobj"
                )
    # v33: descendant CIDFont /W + /DW width arrays (ISO 32000 §9.7.4.3)
    # on the Type0 schemes (Identity and ToUnicode-CMap fonts). Forms:
    # DW-only / bare descendants, range groups `c1 c2 w`, run groups
    # `c [w …]` (optionally a mixed second group), a ref'd /W array, a
    # ref'd /DescendantFonts array, /DW2 vertical-metrics noise (when it
    # precedes /DW the first-occurrence key rule kills the read — pinned),
    # and refusal traps (junk token / reversed range / dangling group /
    # non-integral bound) that must fall back to any v25 table riding the
    # same font.
    use_cidw = (
        scheme is not None
        and scheme[0] in ("id2", "id2u", "id4u", "shift", "cid")
        and rng.random() < 0.55
    )
    cid_decl = ""
    if use_cidw:
        wr3 = rng.random()
        dw_decl = ""
        if rng.random() < 0.7:
            dw_decl = f" /DW {rng.choice((400, 500, 600, 1000))}"
        if rng.random() < 0.15:
            dw_decl = " /DW2 [880 -1000]" + dw_decl
        wkey = ""
        if wr3 < 0.20:
            pass  # DW-only (or bare) descendant — every code takes dw
        elif wr3 < 0.45:  # range form over the live code band
            w3 = rng.choice((300, 444, 500, 556))
            if scheme[0] == "cid":
                wkey = f" /W [256 {256 + rng.randint(20, 80)} {w3}]"
            else:
                wkey = f" /W [32 126 {w3}]"
        elif wr3 < 0.65:  # run form, sometimes a mixed second group
            start = 256 if scheme[0] == "cid" else 97
            runw = " ".join(
                str(rng.choice((250, 333, 400, 500, 611)))
                for _ in range(rng.randint(8, 26))
            )
            wkey = f" /W [{start} [{runw}]]"
            if rng.random() < 0.4:
                wkey = wkey[:-1] + f" 32 64 {rng.choice((278, 500))}]"
        elif wr3 < 0.78:  # /W as a ref'd array object
            parts.append(
                f"54 0 obj\n[ 32 126 {rng.choice((350, 450, 550))} ]\nendobj"
            )
            wkey = " /W 54 0 R"
        else:  # refusal traps — the entry must NOT form
            wkey = rng.choice(
                (
                    " /W [32 /junk 300]",
                    " /W [80 60 444]",
                    " /W [32 [300] 48]",
                    " /W [32.5 126 444]",
                )
            )
        desc_body = (
            "<< /Type /Font /Subtype /CIDFontType2 /BaseFont"
            f" /NotoSans{dw_decl}{wkey} >>"
        )
        if use_objstm and rng.random() < 0.5:
            objstm_inner.append((53, desc_body))
        else:
            parts.append(f"53 0 obj\n{desc_body}\nendobj")
        if rng.random() < 0.25:  # ref-to-array /DescendantFonts form
            parts.append("55 0 obj\n[ 53 0 R ]\nendobj")
            cid_decl = " /DescendantFonts 55 0 R"
        else:
            cid_decl = " /DescendantFonts [53 0 R]"
    if use_oc:
        # v36: the OCG / OCMD objects the /Properties names resolve to
        parts.append(
            "56 0 obj\n<< /Type /OCG /Name (Watermark) >>\nendobj"
        )
        parts.append("57 0 obj\n<< /Type /OCG /Name (Body) >>\nendobj")
        rmd = rng.random()
        if rmd < 0.40:  # all-OFF OCMD: hidden
            md = "<< /Type /OCMD /OCGs [56 0 R] >>"
        elif rmd < 0.60:  # single-ref form, OFF
            md = "<< /Type /OCMD /OCGs 56 0 R >>"
        elif rmd < 0.85:  # AnyOn: one ON member keeps it visible
            md = "<< /Type /OCMD /OCGs [56 0 R 57 0 R] >>"
        else:  # empty /OCGs: visible
            md = "<< /Type /OCMD /OCGs [] >>"
        parts.append(f"58 0 obj\n{md}\nendobj")
        if oc_refd:
            parts.append(f"59 0 obj\n<< {oc_inner} >>\nendobj")
    if scheme:  # v6: font + ToUnicode CMap objects (after the content streams)
        def _cmap_body(sch) -> str:
            kind, m = sch
            lines = ["/CIDInit /ProcSet findresource begin", "begincmap"]
            if kind == "shift":
                lines += [
                    "1 beginbfrange",
                    f"<{0x23 + m:02X}> <{0x7E + m:02X}> <0023>",
                    "endbfrange",
                ]
            else:
                items = sorted(m.items(), key=lambda kv: kv[1])
                for c0 in range(0, len(items), 100):
                    chunk = items[c0 : c0 + 100]
                    lines.append(f"{len(chunk)} beginbfchar")
                    for ch, code in chunk:
                        dst = "".join(f"{u:04X}" for u in _u16_units(ch))
                        lines.append(f"<{code:04X}> <{dst}>")
                    lines.append("endbfchar")
            lines += ["endcmap", "end"]
            return "\n".join(lines)

        pairs = [(scheme, font1)] + ([(scheme2, font1 + 2)] if scheme2 else [])
        for sch, fnum in pairs:
            cnum = fnum + 1
            if sch[0] in ("winansi", "macroman"):
                # v18: base-encoding simple font — bare name, dict with a
                # '$'→bullet /Differences overlay, or a referenced
                # /Type /Encoding object (dict objects may ride the ObjStm)
                enm = (
                    "/WinAnsiEncoding"
                    if sch[0] == "winansi"
                    else "/MacRomanEncoding"
                )
                r = rng.random()
                if r < 0.5:  # bare name
                    fbody = (
                        "<< /Type /Font /Subtype /Type1 /BaseFont"
                        f" /Helvetica /Encoding {enm} >>"
                    )
                elif r < 0.8:  # dict: BaseEncoding + observable overlay
                    fbody = (
                        "<< /Type /Font /Subtype /Type1 /Encoding"
                        f" << /BaseEncoding {enm}"
                        " /Differences [ 36 /bullet ] >> >>"
                    )
                else:  # referenced encoding object
                    fbody = (
                        "<< /Type /Font /Subtype /Type1 /BaseFont"
                        f" /Helvetica /Encoding {cnum} 0 R >>"
                    )
                    ebody = f"<< /Type /Encoding /BaseEncoding {enm} >>"
                    if use_objstm:
                        objstm_inner.append((cnum, ebody))
                    else:
                        parts.append(f"{cnum} 0 obj\n{ebody}\nendobj")
                if wdecl and fnum == font1:
                    fbody = fbody[:-3] + wdecl + " >>"  # v25
                if use_objstm:
                    objstm_inner.append((fnum, fbody))
                else:
                    parts.append(f"{fnum} 0 obj\n{fbody}\nendobj")
                continue
            if sch[0] == "diff":
                # v13: a simple font whose decode table is /Encoding
                # /Differences — inline dict or a referenced /Type /Encoding
                # object (a dict object, so it may ride the ObjStm)
                arr = _diff_array(rng, sch[1])
                if rng.random() < 0.4:
                    fbody = (
                        "<< /Type /Font /Subtype /Type1 /BaseFont"
                        f" /Helvetica /Encoding {cnum} 0 R >>"
                    )
                    ebody = f"<< /Type /Encoding /Differences [ {arr} ] >>"
                    if use_objstm:
                        objstm_inner.append((cnum, ebody))
                    else:
                        parts.append(f"{cnum} 0 obj\n{ebody}\nendobj")
                else:
                    fbody = (
                        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                        f" /Encoding << /Differences [ {arr} ] >> >>"
                    )
                if wdecl and fnum == font1:
                    fbody = fbody[:-3] + wdecl + " >>"  # v25
                if use_objstm:
                    objstm_inner.append((fnum, fbody))
                else:
                    parts.append(f"{fnum} 0 obj\n{fbody}\nendobj")
                continue
            if sch[0] in ("id2", "id2u", "id4u"):
                # v31: Type0 with a bare-name Identity encoding and NO
                # ToUnicode — codes are identity-to-Unicode 2-byte CIDs.
                # v54: ~35% draw a predefined Unicode CMap name instead
                # (Table 118) — same 2-byte identity behavior, and the
                # -V forms keep the v53 vertical layout.
                # v61: the id2u flavor ALWAYS draws a -UTF16- name (the
                # pair-combining entries; UCS2/Identity never pair)
                if sch[0] == "id4u":  # v62: 4-byte UTF-32 names
                    ename = rng.choice(
                        ("UniJIS2004-UTF32", "UniGB-UTF32", "UniKS-UTF32")
                    )
                elif sch[0] == "id2u":
                    ename = rng.choice(
                        ("UniKS-UTF16", "UniGB-UTF16", "UniJIS2004-UTF16")
                    )
                else:
                    ename = (
                        rng.choice(("UniGB-UCS2", "UniJIS-UCS2"))
                        if rng.random() < 0.35
                        else "Identity"
                    )
                fbody = (
                    "<< /Type /Font /Subtype /Type0 /BaseFont"
                    f" /NotoSans /Encoding /{ename}-{sch[1]} >>"
                )
                # v60: ~half the VERTICAL Type0 fonts carry a descendant
                # with real vertical metrics (/DW2 and/or /W2, ISO Table
                # 117) — letters get per-code downward advances; traps
                # refuse the whole entry (degrade = the v53 default)
                if (
                    sch[1] == "V"
                    and not (cid_decl and fnum == font1)
                    and rng.random() < 0.5
                ):
                    r60 = rng.random()
                    if r60 < 0.25:  # DW2-only: every glyph one default
                        vdecl = f" /DW2 [880 {-rng.choice((400, 600, 750))}]"
                    elif r60 < 0.50:  # range form (letters band)
                        vdecl = (
                            f" /DW2 [880 -1000] /W2 [97 122"
                            f" {-rng.choice((1200, 1400, 1600))} 0 0]"
                        )
                    elif r60 < 0.68:  # bracket TRIPLES for a few codes
                        ws60 = " ".join(
                            f"{-rng.choice((500, 800, 1300))} 0 0"
                            for _ in range(rng.randint(2, 5))
                        )
                        vdecl = f" /W2 [{rng.choice((97, 101, 105))} [{ws60}]]"
                    elif r60 < 0.82:  # /W2 as a ref'd array object
                        parts.append(
                            f"79 0 obj\n[ 32 126 {-rng.choice((700, 900))}"
                            " 0 0 ]\nendobj"
                        )
                        vdecl = " /DW2 [880 -500] /W2 79 0 R"
                    else:  # refusal traps — entry must NOT form
                        vdecl = rng.choice((
                            " /W2 [97 [600]]",  # not a triple multiple
                            " /W2 [97 90 -500 0 0]",  # reversed bounds
                            " /W2 [97 122 -500 0]",  # short range group
                            " /DW2 [880]",  # one-element DW2
                        ))
                    parts.append(
                        "78 0 obj\n<< /Type /Font /Subtype /CIDFontType2"
                        f" /BaseFont /NotoSans{vdecl} >>\nendobj"
                    )
                    fbody = fbody[:-3] + " /DescendantFonts [78 0 R] >>"
                if cid_decl and fnum == font1:
                    fbody = fbody[:-3] + cid_decl + " >>"  # v33
                if wdecl and fnum == font1:
                    fbody = fbody[:-3] + wdecl + " >>"  # v25 interplay
                if use_objstm:
                    objstm_inner.append((fnum, fbody))
                else:
                    parts.append(f"{fnum} 0 obj\n{fbody}\nendobj")
                continue
            cm = _cmap_body(sch)
            if rng.random() < 0.5:  # the CMap stream itself compressed
                cbody = _a85body(zlib.compress(cm.encode("latin-1"), 6))
                cdecl = " /Filter [/ASCII85Decode /FlateDecode]"
            else:
                cbody, cdecl = cm, ""
            # v13 precedence trap (~15%): a conflicting Differences rides
            # NEXT TO the ToUnicode — the CMap must win for extraction
            tu_r = rng.random()
            tu_extra = (
                " /Encoding << /Differences [ 35 /bullet ] >>"
                if tu_r < 0.15
                else " /Encoding /WinAnsiEncoding"  # v18: CMap still wins
                if tu_r < 0.25
                else " /Encoding /Identity-H"  # v31: ToUnicode still wins
                if tu_r < 0.35
                else ""
            )
            fbody = (
                f"<< /Type /Font /Subtype /Type0 /ToUnicode {cnum} 0 R"
                f"{tu_extra} >>"
            )
            if cid_decl and fnum == font1:
                fbody = fbody[:-3] + cid_decl + " >>"  # v33
            if wdecl and fnum == font1:
                fbody = fbody[:-3] + wdecl + " >>"  # v25
            if use_objstm:
                objstm_inner.append((fnum, fbody))
            else:
                parts.append(f"{fnum} 0 obj\n{fbody}\nendobj")
            parts.append(
                f"{cnum} 0 obj\n<< /Length {len(cbody)}{cdecl} >>\n"
                f"stream\n{cbody}\nendstream\nendobj"
            )
    if objstm_inner:
        blob = "".join(b + "\n" for _n, b in objstm_inner)
        offs, acc = [], 0
        for _n, b in objstm_inner:
            offs.append(acc)
            acc += len(b) + 1
        header = " ".join(
            f"{n} {o}" for (n, _b), o in zip(objstm_inner, offs)
        ) + "\n"
        content = header + blob
        if rng.random() < 0.5:
            sbody = _a85body(zlib.compress(content.encode("latin-1"), 6))
            sdecl = " /Filter [/ASCII85Decode /FlateDecode]"
        else:
            sbody, sdecl = content, ""
        parts.append(
            f"{font1 + 4} 0 obj\n<< /Type /ObjStm /N {len(objstm_inner)}"
            f" /First {len(header)} /Length {len(sbody)}{sdecl} >>\n"
            f"stream\n{sbody}\nendstream\nendobj"
        )
    if use_forms:  # v9: form/image XObject objects (always direct streams)
        tx, ty = rng.randint(-40, 120), rng.randint(-120, 80)
        mroll = rng.random()
        if mroll < 0.6:
            mat_a = f" /Matrix [1 0 0 1 {tx} {ty}]"
        elif mroll < 0.8:  # v20: scaling components COMPOSE with the CTM
            mat_a = f" /Matrix [2 0 0 0.5 {tx} {ty}]"
        else:
            mat_a, tx, ty = "", 0, 0
        content_a = ["BT", f"/F1 {rng.choice((8, 9, 10))} Tf 72 {mb_h - 200} Td"]
        for li in range(rng.randint(1, 3)):
            if li:
                content_a.append("0 -14 Td")
            content_a.append(
                f"({_pdf_str(_sent(rng, words, rng.randint(3, 7)))} letterhead) Tj"
            )
        content_a.append("ET")
        res_parts_a = []
        if form_nested:
            content_a.append("/Fy Do")
            res_parts_a.append(f"/XObject << /Fy {xbase + 1} 0 R >>")
        # v57: the form's OWN /ExtGState table (ISO §8.10.2 — a form's
        # gs names resolve through the form's /Resources, not the
        # page's): an alpha-0-scoped line plus a visible restore, or the
        # trap — a page-level gs name unknown in the form's table is a
        # no-op (text stays visible)
        if use_egs and rng.random() < 0.5:
            res_parts_a.append("/ExtGState << /FGA 44 0 R /FGB 45 0 R >>")
            wmf = _pdf_str(_sent(rng, words, rng.randint(2, 3)))
            if rng.random() < 0.6:
                content_a.append(
                    f"q /FGA gs BT /F1 9 Tf 100 {mb_h - 300} Td"
                    f" ({wmf} formghost) Tj ET Q"
                )
                content_a.append(
                    f"BT /F1 9 Tf /FGB gs 100 {mb_h - 320} Td"
                    f" ({wmf} formvisible) Tj ET"
                )
            else:
                content_a.append(
                    f"BT /F1 9 Tf /GA gs 100 {mb_h - 300} Td"
                    f" ({wmf} formnoop) Tj ET"
                )
        resources_a = (
            f" /Resources << {' '.join(res_parts_a)} >>" if res_parts_a else ""
        )
        ca = "\n".join(content_a)
        # v49: ~40% of forms carry a /BBox (ISO §8.10.1 required entry) —
        # generous (covers everything), tight (clips the 2nd+ letterhead
        # lines, which sit 14 units below the first), reversed corners
        # (normalize), or malformed (no clip)
        bbox_a = ""
        if rng.random() < 0.40:
            b49 = rng.random()
            if b49 < 0.35:
                bbox_a = f" /BBox [0 0 {mb_w} {mb_h}]"
            elif b49 < 0.65:
                bbox_a = f" /BBox [0 {mb_h - 207} {mb_w} {mb_h - 185}]"
            elif b49 < 0.85:  # reversed corner order normalizes
                bbox_a = f" /BBox [{mb_w} {mb_h - 185} 0 {mb_h - 207}]"
            else:  # malformed → no clipping
                bbox_a = f" /BBox [0 0 zz {mb_h}]"
        if rng.random() < 0.3:  # form content behind a filter chain
            body_a = _a85body(zlib.compress(ca.encode("latin-1"), 6))
            fdecl_a = " /Filter [/ASCII85Decode /FlateDecode]"
        else:
            body_a, fdecl_a = ca, ""
        parts.append(
            f"{xbase} 0 obj\n<< /Type /XObject /Subtype /Form{mat_a}{bbox_a}"
            f"{resources_a}"
            f" /Length {len(body_a)}{fdecl_a} >>\n"
            f"stream\n{body_a}\nendstream\nendobj"
        )
        if form_nested:
            content_b = ["BT", f"/F1 8 Tf 90 {mb_h - 260} Td",
                         f"({_pdf_str(_sent(rng, words, 3))} stamp) Tj", "ET"]
            resources_b = ""
            if form_cycle:  # A→B→A: the invocation-chain guard must break it
                content_b.append("/Fx Do")
                resources_b = f" /Resources << /XObject << /Fx {xbase} 0 R >> >>"
            mat_b = (
                f" /Matrix [1 0 0 1 {rng.randint(0, 40)} {rng.randint(-40, 0)}]"
                if rng.random() < 0.5
                else ""
            )
            cb = "\n".join(content_b)
            parts.append(
                f"{xbase + 1} 0 obj\n"
                f"<< /Type /XObject /Subtype /Form{mat_b}{resources_b}"
                f" /Length {len(cb)} >>\nstream\n{cb}\nendstream\nendobj"
            )
        # an image XObject: Do on it must no-op (and it is never a page)
        idata = "".join(
            rng.choice("ABCDEF0123456789") for _ in range(rng.randint(8, 24))
        )
        parts.append(
            f"{xbase + 2} 0 obj\n"
            f"<< /Type /XObject /Subtype /Image /Width 8 /Height 8"
            f" /Length {len(idata)} >>\nstream\n{idata}\nendstream\nendobj"
        )
    if rng.random() < 0.12:  # an undecodable stream: skipped, counted dropped
        bad = rng.random()
        if bad < 0.3:  # raw-binary flate: decode failure by construction
            decl, sbody = "/Filter /FlateDecode", "xxxxGARBLEDxx"
        elif bad < 0.5:  # genuinely unsupported filter name (image codec)
            decl, sbody = "/Filter /DCTDecode", "\xff\xd8GARBLED"
        elif bad < 0.7:  # unsupported predictor bit depth
            decl = (
                "/Filter /FlateDecode /DecodeParms"
                " << /Predictor 12 /BitsPerComponent 4 >>"
            )
            sbody = "xxxxGARBLEDxx"
        elif bad < 0.85:  # LZW bit-stream ends before EOD
            decl, sbody = "/Filter [/ASCIIHexDecode /LZWDecode]", "00>"
        else:  # PNG row-filter type out of range (9)
            pbody = base64.a85encode(
                zlib.compress(b"\x09AAAAAAAA", 6)
            ).decode("latin-1") + "~>"
            decl = (
                "/Filter [/ASCII85Decode /FlateDecode]"
                " /DecodeParms [null << /Predictor 12 /Columns 8 >>]"
            )
            sbody = pbody
        parts.append(
            f"{first_content + n_pages} 0 obj\n"
            f"<< /Length {len(sbody)} {decl} >>\n"
            f"stream\n{sbody}\nendstream\nendobj"
        )
    def _xref_skel(first: int, count: int) -> str:
        # v16: classic cross-reference table (ISO §7.5.4) — offsets are
        # plausible-looking junk; the scanner is xref-free by design and
        # must treat every byte of it as inert
        ents = "".join(
            f"{rng.randint(15, 999999):010d} 00000 n \n" for _ in range(count)
        )
        if first == 0:
            return f"xref\n0 {count + 1}\n0000000000 65535 f \n{ents}"
        return f"xref\n{first} {count}\n{ents}"

    xrefstream_n = [85]  # v22: object numbers for xref-stream trailers

    def _tail(troot: str, prev: bool) -> str:
        # section tail: optional xref skeleton + trailer + optional
        # startxref + %%EOF (the %%EOF marker is what the supersession
        # gate counts — exactly one per section).
        # v22: ~30% take the PDF-1.5 form (ISO 32000 §7.5.8) — no classic
        # trailer keyword; the trailer dict (incl. /Root) rides the
        # cross-reference STREAM's parameter dict. The stream body is
        # W-encoded binary junk to this xref-free scanner (it decodes
        # through its filter chain, contains no BT, and is skipped
        # silently), but /Root is a payload-wide token scan so the
        # catalog — and v21 tree ordering — still resolve.
        if rng.random() < 0.30:
            num = xrefstream_n[0]
            xrefstream_n[0] += 1
            rows = bytes(
                b
                for _ in range(rng.randint(4, 12))
                for b in (1, rng.randrange(0x40), rng.randrange(0x40), 0)
            )
            xb = (
                base64.a85encode(zlib.compress(rows, 6)).decode("latin-1")
                + "~>"
            )
            pv = f" /Prev {rng.randint(100, 9999)}" if prev else ""
            return (
                f"{num} 0 obj\n<< /Type /XRef /Size {rng.randint(8, 30)}"
                f" /W [1 2 1] /Root {root_ref}{troot}{pv}"
                " /Filter [/ASCII85Decode /FlateDecode]"
                f" /Length {len(xb)} >>\nstream\n{xb}\nendstream\nendobj\n"
                f"startxref\n{rng.randint(100, 99999)}\n%%EOF"
            )
        xd = rng.random() < 0.35
        out = []
        if xd:
            out.append(_xref_skel(0 if not prev else rng.randint(3, 20),
                                  rng.randint(1, 6)))
        pv = f" /Prev {rng.randint(100, 9999)}" if prev else ""
        out.append(f"trailer\n<< /Root {root_ref}{troot}{pv} >>")
        if xd:
            out.append(f"startxref\n{rng.randint(100, 99999)}")
        out.append("%%EOF")
        return "\n".join(out)

    def _upd_ops() -> str:
        ops = ["BT", f"/F1 10 Tf 14 TL 72 {mb_h - 92} Td"]
        for li in range(rng.randint(2, 4)):
            if li:
                ops.append("T*")
            ops.append(
                f"({_pdf_str(_sent(rng, words, rng.randint(4, 8)))} revised) Tj"
            )
        ops.append("ET")
        return "\n".join(ops)

    encrypted = rng.random() < 0.03  # v11: encryption → whole-payload refusal
    # single-ref non-split pages whose content object was actually emitted
    live = [
        i
        for i in range(n_pages)
        if streams[i] is not None
        and contents_val[i]
        in (f"{first_content + i} 0 R", f"[{first_content + i} 0 R]")
    ]
    upd_roll = rng.random()
    if not encrypted and upd_roll < 0.03 and live:
        # v16 trap: duplicate definition INSIDE the single section (one
        # %%EOF) — malformed input, supersession NOT honored, both render
        _emit_stream(first_content + live[-1], _upd_ops())
        parts.append(_tail("", prev=False))
    else:
        parts.append(_tail(" /Encrypt 99 0 R" if encrypted else "", prev=False))
        if not encrypted and upd_roll < 0.15:
            # v16: incremental-update section (ISO §7.5.6) appended after
            # the first %%EOF — the LAST definition of a number wins and
            # the superseded stream is inert
            roll = rng.random()
            upd_done = True
            if roll < 0.15 and part_objs:
                # replace one part of a split page: the group trigger
                # moves to the update's definition (last interval start)
                num, old = part_objs[rng.randrange(len(part_objs))]
                _emit_stream(
                    num,
                    old + f"\n({_pdf_str(_sent(rng, words, 3))} rev) Tj",
                )
            elif roll < 0.30 and scheme and scheme[0] == "shift":
                # replace the ToUnicode CMap stream (always direct):
                # decode must follow the winner — dst base moves 0023→0025
                k = scheme[1]
                cm = (
                    "/CIDInit /ProcSet findresource begin\nbegincmap\n"
                    f"1 beginbfrange\n<{0x23 + k:02X}> <{0x7E + k:02X}>"
                    " <0025>\nendbfrange\nendcmap\nend"
                )
                parts.append(
                    f"{font1 + 1} 0 obj\n<< /Length {len(cm)} >>\n"
                    f"stream\n{cm}\nendstream\nendobj"
                )
            elif roll < 0.45 and live and not use_objstm:
                # page-dict redefinition trap: the update points the page
                # at a NEW content object; the old content object is never
                # redefined so a reference-free scanner keeps it live —
                # pinned degrade, mirrored exactly (ObjStm-contained page
                # bodies are excluded: vobjs override direct definitions)
                i = live[-1]
                pb = objs[2 + i].replace(
                    f"/Contents {contents_val[i]}",
                    f"/Contents {pnext} 0 R",
                    1,
                )
                parts.append(f"{3 + i} 0 obj\n{pb}\nendobj")
                _emit_stream(pnext, _upd_ops())
                pnext += 1
            elif live:
                # content replacement — usually the LAST live page
                # (reading order preserved); ~15% deliberately an earlier
                # page: the pinned out-of-order degrade
                i = (
                    live[0]
                    if len(live) > 1 and rng.random() < 0.15
                    else live[-1]
                )
                _emit_stream(first_content + i, _upd_ops())
            else:
                upd_done = False
            if upd_done:
                parts.append(_tail("", prev=True))
    doc = "\n".join(parts)
    if (
        rng.random() < 0.08  # v59: encrypted twin (empty user password)
        and doc.count("%%EOF") == 1
        and "trailer\n<< /Root" in doc
        and "/Encrypt" not in doc
    ):
        try:
            doc.encode("latin-1")  # ciphertext bytes must roundtrip; docs
            # carrying raw non-latin-1 show text skip the encryption draw
            doc = _encrypt_doc_v59(doc, rng)
        except UnicodeEncodeError:
            pass
    if rng.random() < 0.07:  # truncated payload → must not error
        doc = doc[: rng.randint(len(doc) // 2, len(doc) - 1)]
    return doc


def _make_plain(rng: random.Random, words: List[str]) -> str:
    paras = []
    for _ in range(rng.randint(1, 5)):
        r = rng.random()
        if r < 0.15:
            paras.append("ok")  # < min_chars → dropped
        elif r < 0.27:  # display-math block (formula-path fodder, SPEC §7)
            paras.append("$$ " + _sent(rng, words, rng.randint(2, 6)) + " $$")
        else:
            paras.append(_sent(rng, words, rng.randint(6, 40)))
    sep = "\n\n" if rng.random() < 0.7 else "\n   \n\n"
    return sep.join(paras)


def payload_for(doc_id: int, rep: int, turn_idx: int, words: List[str]) -> str:
    """The deterministic payload function — identical on driver and executors."""
    if not words:
        words = ["empty"]
    h = _h(f"{conv_id_for(doc_id, rep)}:{turn_idx}")
    rng = random.Random(h)
    r = h % 100
    if r < 50:
        return _make_html(rng, words)
    if r < 70:
        return _make_pdflike(rng, words)
    if r < 85:
        return _make_realpdf(rng, words)
    return _make_plain(rng, words)


def turn_row(doc_id: int, rep: int, turn_idx: int, words: List[str]) -> dict:
    h = _h(f"role:{doc_id}:{rep}:{turn_idx}")
    role = ROLES[h % 3]
    return {
        "conv_id": conv_id_for(doc_id, rep),
        "turn_idx": turn_idx,
        "role": role,
        "text": payload_for(doc_id, rep, turn_idx, words),
        "tool": TOOLS[h % len(TOOLS)] if role == "tool" else None,
        "ts": EPOCH + timedelta(seconds=60 * doc_id + 7 * turn_idx),
    }


# ---------------------------------------------------------------------------
# Pure-Python generation (pytest goldens — FIXTURES.md §3)
# ---------------------------------------------------------------------------

def generate_rows(doc_items, reps: int = 1, base_turns: int = BASE_TURNS):
    """doc_items: iterable of (doc_id, text). Yields transcript row dicts in
    canonical (doc_id, rep, turn_idx) order."""
    for doc_id, text in doc_items:
        words = text.split() if text else ["empty"]
        for rep in range(reps):
            for t in range(n_turns_for(doc_id, base_turns)):
                yield turn_row(doc_id, rep, t, words)


# ---------------------------------------------------------------------------
# Distributed generation (Spark) — same rows at any parallelism
# ---------------------------------------------------------------------------

def transcripts_df(spark, sf_dir: str, reps: int = 1, base_turns: int = BASE_TURNS):
    """Distributed corpus build: documents scan → explode (rep, turn_idx) →
    one mapInPandas crossing that calls the same pure payload function."""
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exploded = (
        docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn(
            "n_turns",
            F.when(
                F.col("doc_id") % SKEW_MOD == 0, F.lit(base_turns * SKEW_FACTOR)
            ).otherwise(F.lit(base_turns)),
        )
        .withColumn("turn_idx", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)))
        .select("doc_id", "rep", "turn_idx", "text")
        # defuse generation skew up front: skewed docs explode to 100× rows
        .repartition(spark.sparkContext.defaultParallelism * 2, "doc_id", "turn_idx")
    )

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [
                turn_row(int(d), int(r), int(t), (w or "").split() or ["empty"])
                for d, r, t, w in zip(pdf["doc_id"], pdf["rep"], pdf["turn_idx"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return exploded.mapInPandas(gen, schema=schema)
