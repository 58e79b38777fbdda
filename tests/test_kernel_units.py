"""Pure-function unit tests with exact expected outputs.

Mirrors the reference's exact-expectation style
(/root/reference/tests/test_french_accents.py:28-60)."""

import functools
from typing import Callable, NamedTuple, Optional

from paddleocr_spark.kernel import extract_payload, assemble_text, plain_spans
from paddleocr_spark.functions.sniff import sniff_kind
from paddleocr_spark.functions.htmltok import html_blocks
from paddleocr_spark.functions.pdflike import parse_pdflike, pdflike_spans, xy_cut
from paddleocr_spark.functions.textnorm import strq2b, squeeze_newlines, scrub_style_tags
from paddleocr_spark.config import DEFAULT_CONFIG as CFG


def test_sniff():
    assert sniff_kind(None) == "plain"
    assert sniff_kind("PDFLIKE v1\n0|1,2,3,4|x") == "pdf"
    assert sniff_kind("  PDFLIKE v1") == "pdf"
    assert sniff_kind("<html><body>x</body></html>") == "html"
    assert sniff_kind("<p>hello</p>") == "html"
    assert sniff_kind("3 < 5 and no tags") == "plain"
    assert sniff_kind("plain text") == "plain"


def test_html_main_vs_boilerplate():
    html = (
        "<nav><a href=a>home</a> <a href=b>docs</a></nav>"
        "<article><p>The real main content sentence.</p></article>"
        "<footer><p>site footer text</p></footer>"
    )
    spans, dropped = html_blocks(html)
    assert [(k, t) for k, t, _ in spans] == [("para", "The real main content sentence.")]
    assert dropped == 2  # nav block (boiler+links) and footer block


def test_html_link_density():
    # exactly half link chars → kept (2*link <= total)
    spans, dropped = html_blocks("<p>abcde<a href=x>fghij</a></p>")
    assert len(spans) == 1 and spans[0][2] == 0.5
    # majority link chars → dropped
    spans, dropped = html_blocks("<p>abc<a href=x>defghij</a></p>")
    assert spans == [] and dropped == 1


def test_html_entities_and_styles():
    spans, _ = html_blocks("<p>caf&#233; &amp; <b>bold</b>&nbsp;x</p>")
    assert spans == [("para", "café & bold x", 1.0)]


def test_html_kinds():
    html = (
        "<h2>A Heading</h2><ul><li>item one</li></ul>"
        "<pre>code here</pre><p>body text</p>"
    )
    spans, _ = html_blocks(html)
    assert [k for k, _, _ in spans] == ["title", "list", "code", "para"]


def test_html_table():
    spans, _ = html_blocks("<table><tr><td>a1</td><td>b1</td></tr><tr><td>a2</td></tr></table>")
    assert spans == [("table", "a1 | b1\na2", 1.0)]


def test_html_malformed_never_raises():
    for payload in ["<p>trunc", "<", "<<div>>weird", "<p>a<table><tr><td>x", "<!doctype html><p>ok fine</p>"]:
        spans, dropped = html_blocks(payload)
        assert isinstance(spans, list)


def test_html_min_chars_and_cap():
    spans, dropped = html_blocks("<p>ab</p><p>long enough</p>")
    assert [t for _, t, _ in spans] == ["long enough"] and dropped == 1
    many = "".join(f"<p>block number {i}</p>" for i in range(1200))
    spans, dropped = html_blocks(many)
    assert len(spans) == CFG.max_candidates


def test_pdflike_parse_and_bands():
    p = "PDFLIKE v1\n0|50,10,750,40|header\n0|50,100,750,130|kept line\n0|50,960,750,990|footer\nbad line\n0|x,y|bad"
    spans, dropped = pdflike_spans(p)
    assert [(t, b) for _, t, _, b in spans] == [("kept line", [50, 100, 750, 130])]
    assert dropped == 2  # header + footer; malformed lines are ignored


def test_xycut_two_columns():
    # two columns; left column read fully before right
    blocks = [
        (420, 100, 750, 130, 0, "R1"),
        (50, 100, 380, 130, 1, "L1"),
        (50, 160, 380, 190, 2, "L2"),
        (420, 160, 750, 190, 3, "R2"),
    ]
    assert [b[5] for b in xy_cut(blocks)] == ["L1", "L2", "R1", "R2"]


def test_xycut_y_jitter_band():
    # same visual row, y jitter within the 10px band → left-to-right order
    blocks = [
        (400, 96, 750, 126, 0, "right"),
        (50, 104, 380, 134, 1, "left"),
    ]
    assert [b[5] for b in xy_cut(blocks)] == ["left", "right"]


def test_pdflike_multipage_order():
    p = "PDFLIKE v1\n1|50,100,750,130|page one\n0|50,100,750,130|page zero"
    spans, _ = pdflike_spans(p)
    assert [t for _, t, _, _ in spans] == ["page zero", "page one"]


def test_plain_paragraphs():
    spans, dropped = plain_spans("First  para\nwith   wrap.\n\nok\n\nSecond para.")
    assert [t for _, t, _, _ in spans] == ["First para with wrap.", "Second para."]
    assert dropped == 1  # 'ok' < min_chars


def test_assemble_and_squeeze():
    kind, spans, _ = extract_payload("A one.\n\n\n\nB two.")
    assert assemble_text(spans) == "A one.\n\nB two."
    assert squeeze_newlines("a\n\n\n\nb") == "a\n\nb"


def test_scalar_norms():
    assert strq2b("ＡＢＣ　１") == "ABC 1"
    assert scrub_style_tags("a <b>x</b> <sub>y</sub>") == "a x y"


def test_payload_cap_guard():
    """Row-level skew guard: giant payloads truncate identically in kernel
    and oracle (SURVEY.md §7 hard-part #2)."""
    from paddleocr_spark.config import ExtractConfig
    from paddleocr_spark.kernel import extract_payload
    from paddleocr_spark.oracle import oracle_extract

    cfg = ExtractConfig(max_payload_chars=100)
    big = "<html>" + "<p>word here</p>" * 50
    k, spans, nd = extract_payload(big, cfg)
    o = oracle_extract(big, cfg)
    assert spans == o["spans"] and nd == o["n_dropped"]
    assert len(spans) <= 8  # truncated: far fewer than 50 paragraphs


class TestParagraphMerge:
    """check_merge_method / convert_text_space_head/tail analog
    (recovery_to_markdown.py:23-126) — SPEC merge_paragraphs rules."""

    def _cfg(self, **kw):
        from paddleocr_spark.config import ExtractConfig

        return ExtractConfig(merge_paragraphs=True, **kw)

    def test_adjacent_lines_merge(self):
        from paddleocr_spark.functions.pdflike import merge_paragraph_lines

        lines = [
            (50, 100, 750, 130, 0, "first line"),
            (50, 160, 750, 190, 1, "second line"),
        ]
        out = merge_paragraph_lines(lines, self._cfg())
        assert out == [(50, 100, 750, 190, 0, "first line second line")]

    def test_gap_breaks_paragraph(self):
        from paddleocr_spark.functions.pdflike import merge_paragraph_lines

        lines = [
            (50, 100, 750, 130, 0, "a"),
            (50, 300, 750, 330, 1, "b"),  # 170 > para_gap
        ]
        assert len(merge_paragraph_lines(lines, self._cfg())) == 2

    def test_indent_starts_new_paragraph(self):
        from paddleocr_spark.functions.pdflike import merge_paragraph_lines

        lines = [
            (50, 100, 750, 130, 0, "a"),
            (100, 160, 750, 190, 1, "indented"),  # 50 > indent_tol
        ]
        assert len(merge_paragraph_lines(lines, self._cfg())) == 2

    def test_short_previous_line_ends_paragraph(self):
        from paddleocr_spark.functions.pdflike import merge_paragraph_lines

        lines = [
            (50, 100, 400, 130, 0, "short ending"),  # ends 350 short of 750
            (50, 160, 750, 190, 1, "next para"),
        ]
        assert len(merge_paragraph_lines(lines, self._cfg())) == 2

    def test_column_jump_never_merges(self):
        from paddleocr_spark.functions.pdflike import merge_paragraph_lines

        # reading order: left column fully, then right column — the jump
        # back up makes the y-gap negative
        lines = [
            (50, 100, 380, 130, 0, "L1"),
            (50, 160, 380, 190, 1, "L2"),
            (420, 100, 750, 130, 2, "R1"),
            (420, 160, 750, 190, 3, "R2"),
        ]
        out = merge_paragraph_lines(lines, self._cfg())
        assert [b[5] for b in out] == ["L1 L2", "R1 R2"]

    def test_kernel_equals_oracle_with_merge_on(self, doc_items):
        from paddleocr_spark import corpus
        from paddleocr_spark.kernel import extract_payload, assemble_text
        from paddleocr_spark.oracle import oracle_extract

        cfg = self._cfg()
        n = 0
        for row in corpus.generate_rows(doc_items[:60]):
            t = row["text"]
            kind, spans, nd = extract_payload(t, cfg)
            o = oracle_extract(t, cfg)
            assert (kind, spans, nd) == (o["kind"], o["spans"], o["n_dropped"])
            assert assemble_text(spans, cfg) == o["extracted_text"]
            n += 1
        assert n > 200


def test_formula_reclassify_units():
    """detect_formula: $$-wrapped para spans become formula spans with
    verbatim inner content; non-block $$ uses stay text (SPEC §7)."""
    from paddleocr_spark.config import ExtractConfig
    from paddleocr_spark.kernel import extract_payload
    from paddleocr_spark.oracle import oracle_extract

    cfg = ExtractConfig(detect_formula=True)
    payload = "intro text here\n\n$$ e = m c^2 $$\n\nmid $$ not block\n\n$$$$\n\n$$ $$"
    kind, spans, dropped = extract_payload(payload, cfg)
    kinds_texts = [(k, t) for _i, k, t, _s, _b in spans]
    assert ("formula", "e = m c^2") in kinds_texts
    assert ("para", "mid $$ not block") in kinds_texts  # not a block
    assert all(t != "" for _k, t in kinds_texts)
    # "$$$$" (empty inner) and "$$ $$" (blank inner) stay para/dropped paths
    assert ("formula", "") not in kinds_texts
    # kernel ≡ oracle under the flag
    exp = oracle_extract(payload, cfg)
    assert spans == exp["spans"]
    # default config leaves everything as para
    kind0, spans0, _ = extract_payload(payload)
    assert all(k == "para" for _i, k, _t, _s, _b in spans0)


def test_formula_corpus_kernel_equals_oracle():
    """Generated corpus with detect_formula on: kernel ≡ oracle on every
    turn and the corpus actually produces formula spans."""
    from paddleocr_spark import corpus
    from paddleocr_spark.config import ExtractConfig
    from paddleocr_spark.kernel import extract_payload
    from paddleocr_spark.oracle import oracle_extract

    cfg = ExtractConfig(detect_formula=True)
    words = "alpha beta gamma delta epsilon".split()
    n_formula = 0
    for doc_id in range(120):
        for t in range(4):
            payload = corpus.payload_for(doc_id, 0, t, words)
            kind, spans, dropped = extract_payload(payload, cfg)
            exp = oracle_extract(payload, cfg)
            assert spans == exp["spans"], (doc_id, t)
            n_formula += sum(1 for s in spans if s[1] == "formula")
    assert n_formula > 10


def test_formula_markdown_fencing(spark):
    """Markdown renders formula spans as $$-fenced blocks, unescaped."""
    from pyspark.sql import types as T

    from paddleocr_spark.operators.extract import SPAN_TYPE
    from paddleocr_spark.operators.markdown import render_markdown

    schema = T.StructType([T.StructField("spans", SPAN_TYPE)])
    df = spark.createDataFrame(
        [([(0, "formula", "a*b = c", 1.0, None)],)], schema
    )
    md = render_markdown(df).collect()[0].markdown
    assert md == "$$\na*b = c\n$$"
    from paddleocr_spark.golden import render_markdown_py

    assert render_markdown_py([(0, "formula", "a*b = c", 1.0, None)]) == md


# ---------------------------------------------------------------------------
# v17: HTML5 depth — quote-aware tag tokens, class quoting forms, raw-text
# skips, comment/CDATA edge rules (SPEC §2.1/§2.2)

import random as _random

from paddleocr_spark.corpus import _make_html as _mk_html
from paddleocr_spark.oracle import oracle_extract as _ora

_W17 = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


def _html_parity(doc: str, where=None):
    k, spans, drop = extract_payload(doc)
    o = _ora(doc)
    assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"]), where
    return [s[2] for s in spans]


def test_v17_gt_inside_quoted_attr_value():
    texts = _html_parity(
        '<html><body><article><p>alpha beta <a href="/x?a>b" title="3 > 2">'
        "link word</a> gamma delta epsilon zeta</p></article></body></html>"
    )
    assert texts == ["alpha beta link word gamma delta epsilon zeta"]


def test_v17_class_quoting_forms_all_boilerplate():
    for cls in ('class="sidebar"', "class='sidebar'", "class=sidebar"):
        texts = _html_parity(
            f"<html><body><div {cls}><p>side text one two three</p></div>"
            "<article><p>real body text here now</p></article></body></html>"
        )
        assert texts == ["real body text here now"], cls


def test_v17_unterminated_quote_falls_back_to_first_gt():
    # the quote never closes: the tag ends at the first '>' (pre-v17 rule),
    # the residue scans as text inside the then-open <a>
    texts = _html_parity(
        '<html><body><article><p>pre text</p><a href="broken >tail text'
        " after</a><p>more body text here</p></article></body></html>"
    )
    assert "pre text" in texts and "more body text here" in texts
    assert not any("tail text" in t for t in texts)  # link-density dropped


def test_v17_script_content_with_tag_strings_vanishes():
    texts = _html_parity(
        '<html><body><script>var s = "<p>not text</p>"; if (a>b) {}</script>'
        "<style>p > a {color:red}</style><article><p>visible body text one"
        " two</p></article></body></html>"
    )
    assert texts == ["visible body text one two"]
    assert not any("not text" in t for t in texts)


def test_v17_uppercase_tags_case_blind():
    texts = _html_parity(
        "<HTML><BODY><ARTICLE><P>upper case paragraph body text</P>"
        "</ARTICLE></BODY></HTML>"
    )
    assert texts == ["upper case paragraph body text"]


def test_v17_unclosed_comment_consumes_to_eof():
    texts = _html_parity(
        "<html><body><article><p>kept text line here</p>"
        "<!-- unclosed comment <p>ghost text</p> rest"
    )
    assert texts == ["kept text line here"]


def test_v17_cdata_bogus_comment_residue_pinned():
    # HTML5 bogus-comment rule: '<![CDATA[x ' dies at the first '>', the
    # residue ' y]]>' is TEXT — exactly what a browser renders
    texts = _html_parity(
        "<html><body><article><p>before text here</p><![CDATA[x > y]]>"
        "<p>after text continues here</p></article></body></html>"
    )
    assert texts == ["before text here", "y]]>", "after text continues here"]


def test_v17_hex_entities():
    texts = _html_parity(
        "<html><body><article><p>caf&#xE9; dash &#x2014; and&nbsp;nbsp"
        "</p></article></body></html>"
    )
    assert texts == ["café dash — and nbsp"]


def test_v17_img_alt_not_extracted():
    texts = _html_parity(
        '<html><body><article><p>body text line one</p><img src="/x.png"'
        ' alt="picture alt words"><p>body text line two</p></article>'
        "</body></html>"
    )
    assert texts == ["body text line one", "body text line two"]
    assert not any("alt words" in t for t in texts)


# ---------------------------------------------------------------------------
# v26: non-rendered subtrees (SPEC §2.2 Skipped subtrees)
# ---------------------------------------------------------------------------


def test_v26_skip_sets_content_equal():
    """The kernel and oracle skip sets are independent literals — assert
    content equality so they can never silently diverge."""
    from paddleocr_spark.functions.htmltok import SKIP_TAGS
    from paddleocr_spark.oracle import _ORACLE_SKIP

    assert SKIP_TAGS == _ORACLE_SKIP


def test_v26_form_controls_vanish_button_renders():
    texts = _html_parity(
        "<html><body><article><p>body text before here</p>"
        '<form><select><option>hidden option one</option>'
        "<option>hidden option two</option></select>"
        "<textarea>default value with a <p>tag-looking</p> island</textarea>"
        "<button>press this button</button></form>"
        "<p>body text after here</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "hidden option" not in joined
    assert "default value" not in joined and "tag-looking" not in joined
    assert "press this button" in joined
    assert "body text before here" in joined and "body text after here" in joined


def test_v26_noscript_iframe_template_vanish():
    texts = _html_parity(
        "<html><body><article><p>real paragraph text one</p>"
        "<noscript><p>enable javascript please</p></noscript>"
        '<iframe src="/x"><p>iframe fallback words</p></iframe>'
        "<template><li>template row item</li></template>"
        "<p>real paragraph text two</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "enable javascript" not in joined
    assert "iframe fallback" not in joined
    assert "template row" not in joined
    assert "real paragraph text one" in joined
    assert "real paragraph text two" in joined


def test_v26_traps_pinned():
    # stray close outside any skip: clamped no-op, following text renders
    texts = _html_parity(
        "<html><body><article></select><p>after stray close text</p>"
        "</article></body></html>"
    )
    assert any("after stray close text" in t for t in texts)
    # self-closing member opens no skip
    texts = _html_parity(
        "<html><body><article><textarea/><p>renders fine here now</p>"
        "</article></body></html>"
    )
    assert any("renders fine here now" in t for t in texts)
    # cross-member close ends the innermost skip (the v17 </script> rule)
    texts = _html_parity(
        "<html><body><article><select><option>hidden words here</option>"
        "</style><option>leaked words here</option></select>"
        "<p>tail paragraph text</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "hidden words here" not in joined
    assert "leaked words here" in joined
    assert "tail paragraph text" in joined


# ---------------------------------------------------------------------------
# v29: hidden elements (SPEC §2.2 Hidden elements)
# ---------------------------------------------------------------------------


def test_v29_hidden_attr_variants_vanish():
    """The HTML5 boolean ``hidden`` hides in every syntactic form —
    bare, empty, valued, uppercase, until-found — and a nested child
    with a visible style stays hidden (ancestor wins by depth)."""
    for attr in ("hidden", 'hidden=""', 'hidden="hidden"', "HIDDEN",
                 "hidden=until-found"):
        texts = _html_parity(
            f"<html><body><article><div {attr}><p>gone words here</p></div>"
            "<p>after the div renders</p></article></body></html>"
        )
        joined = "\n".join(texts)
        assert "gone words" not in joined, attr
        assert "after the div renders" in joined, attr
    texts = _html_parity(
        '<html><body><article><div hidden><p style="display:block">'
        "still gone words</p></div><p>tail renders</p></article>"
        "</body></html>"
    )
    joined = "\n".join(texts)
    assert "still gone" not in joined and "tail renders" in joined


def test_v29_style_declaration_forms():
    """display:none and visibility:hidden hide across quoting, spacing,
    !important and extra declarations; unquoted style values parse."""
    for st in ('style="display:none"',
               'style="display: none !important"',
               "style='display :none;color:#222'",
               "style=display:none",
               'style="color:#111;visibility:hidden"',
               'style="visibility: hidden"'):
        texts = _html_parity(
            f"<html><body><article><p {st}>gone words here</p>"
            "<p>visible tail text</p></article></body></html>"
        )
        joined = "\n".join(texts)
        assert "gone words" not in joined, st
        assert "visible tail text" in joined, st


def test_v29_near_miss_traps_render():
    """Attribute-name-exact and declaration-exact rules: hidden-looking
    attrs/styles/text never hide."""
    for frag in ('<p class="hidden">classy words render</p>',
                 '<p data-hidden="true">datum words render</p>',
                 '<p aria-hidden="true">aria words render</p>',
                 '<p style="border:none">border words render</p>',
                 '<p style="display:block">block words render</p>',
                 "<p>the hidden word itself renders</p>",
                 '<p class=hidden>unquoted class value renders</p>'):
        texts = _html_parity(
            f"<html><body><article>{frag}</article></body></html>"
        )
        assert any("render" in t for t in texts), frag


def test_v29_hidden_table_emits_nothing():
    """A hiding <table> consumes its rows and emits NO candidate; a
    following table still renders; a table inside a hidden div loses its
    cell text (the empty-cell skeleton drops via the keep predicate)."""
    texts = _html_parity(
        "<html><body><article>"
        "<table hidden><tr><td>cell gone one</td><td>cell gone two</td></tr></table>"
        "<table><tr><td>kept alpha</td><td>kept bravo</td></tr></table>"
        "</article></body></html>"
    )
    joined = "\n".join(texts)
    assert "cell gone" not in joined
    assert "kept alpha | kept bravo" in joined
    texts = _html_parity(
        "<html><body><article><div hidden>"
        "<table><tr><td>swallowed one</td><td>swallowed two</td></tr></table>"
        "</div><p>after renders fine</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "swallowed" not in joined and "after renders fine" in joined
    assert all("|" not in t or "kept" in t for t in texts)


def test_v29_close_restores_and_clamps():
    """Lenient close decrements the hidden depth (ancestor pop ends the
    hide); a stray close never underflows; an unterminated quoted style
    value swallows '>' into the value and does NOT hide (pinned)."""
    texts = _html_parity(
        "<html><body><article><div hidden><span>inner gone</span></div>"
        "<p>outer renders now</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "inner gone" not in joined and "outer renders now" in joined
    # cross-pop: closing an outer tag pops the hidden child too
    texts = _html_parity(
        "<html><body><article><section><div hidden><p>deep gone</p>"
        "</section><p>sibling renders</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "deep gone" not in joined and "sibling renders" in joined
    # unterminated quote: value swallows the rest incl '>' → no hide
    texts = _html_parity(
        '<html><body><article><p style="display:none>leaked by quote</p>'
        "<p>and the tail</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "leaked by quote" in joined and "and the tail" in joined


def test_v29_attr_walk_junk_degrade():
    """Quote/'=' junk where a name should start advances one char — a
    later real ``hidden`` still detects."""
    texts = _html_parity(
        '<html><body><article><div " = hidden><p>junk gone</p></div>'
        "<p>junk tail renders</p></article></body></html>"
    )
    joined = "\n".join(texts)
    assert "junk gone" not in joined and "junk tail renders" in joined


# ---------------------------------------------------------------------------
# v30: invisible format characters (SPEC §2.3 Invisible format characters)
# ---------------------------------------------------------------------------


def test_v30_strip_sets_content_equal():
    """The kernel's regex class and the oracle's frozenset are independent
    literals — assert content equality, and that ZWNJ/ZWJ are in NEITHER."""
    from paddleocr_spark.functions.textnorm import _INVIS_RE
    from paddleocr_spark.oracle import _O_INVIS

    kernel_set = set(_INVIS_RE.pattern) - set("[]")
    assert kernel_set == set(_O_INVIS)
    assert "‌" not in kernel_set and "‍" not in kernel_set


def test_v30_soft_hyphen_and_zwsp_strip():
    """Entity and literal forms both strip; words rejoin seamlessly."""
    texts = _html_parity(
        "<html><body><article><p>a hy&shy;phen&shy;ated word plus"
        " ze​ro&#8203;width and &lrm;bidi‏ marks"
        " no⁠break&NoBreak;joined ﻿bom tail</p>"
        "</article></body></html>"
    )
    assert texts == [
        "a hyphenated word plus zerowidth and bidi marks nobreakjoined"
        " bom tail"
    ]


def test_v30_zwnj_zwj_kept():
    """ZWNJ (Persian/Indic joining) and ZWJ (emoji sequences) survive."""
    texts = _html_parity(
        "<html><body><article><p>می‌خوا"
        "هم and \U0001f469‍\U0001f4bb pair kept</p>"
        "</article></body></html>"
    )
    assert len(texts) == 1
    assert "‌" in texts[0] and "‍" in texts[0]


def test_v30_empty_piece_contributes_nothing():
    """A piece that strips to nothing makes no kind decision and sets no
    boiler mark (pinned: '' is not whitespace, so without the skip the
    empty piece would claim both)."""
    # kind trap: the first piece strips empty → kind decided by the next
    # piece, which sits inside <code> → kind 'code' (pre-v30: 'para')
    k, spans, drop = extract_payload(
        "<html><body><article><p>&shy;<code>snippet</code> tail word here"
        "</p></article></body></html>"
    )
    from paddleocr_spark.oracle import oracle_extract as _o
    o = _o("<html><body><article><p>&shy;<code>snippet</code> tail word"
           " here</p></article></body></html>")
    assert spans == o["spans"]
    assert spans[0][1] == "code"
    # boiler trap: a sidebar-classed inline span whose text strips empty
    # must NOT mark the block boilerplate
    texts = _html_parity(
        '<html><body><article><p><span class="sidebar">​</span>'
        "actual body text here</p></article></body></html>"
    )
    assert texts == ["actual body text here"]
    # a title block that strips entirely empty emits no candidate
    texts = _html_parity(
        "<html><body><article><h2>​&shy;</h2><p>following body text"
        " here</p></article></body></html>"
    )
    assert texts == ["following body text here"]


def test_v30_link_chars_post_strip():
    """Link-density counts the STRIPPED text: ZWSP padding inside an
    anchor cannot push a block over the density threshold."""
    doc = (
        '<html><body><article><p>one two three four <a href="/x">'
        "​​​​​​link​​​"
        "​​​</a></p></article></body></html>"
    )
    k, spans, drop = extract_payload(doc)
    from paddleocr_spark.oracle import oracle_extract as _o
    o = _o(doc)
    assert spans == o["spans"] and len(spans) == 1
    text = spans[0][2]
    assert text == "one two three four link"
    # score = 1 - 4/23 (link chars = len('link'), not the padded length)
    assert abs(spans[0][3] - (1 - 4 / len(text))) < 1e-12


def test_v30_table_cells_strip():
    """A cell stripping to empty joins as an empty cell; a table whose
    every cell strips empty emits no candidate."""
    texts = _html_parity(
        "<html><body><article><table><tr><td>&shy;​</td>"
        "<td>kept cell text</td></tr></table></article></body></html>"
    )
    assert texts == [" | kept cell text"]
    texts = _html_parity(
        "<html><body><article><table><tr><td>&shy;</td><td>​</td>"
        "</tr></table><p>body text after here</p></article></body></html>"
    )
    assert texts == ["body text after here"]


def test_v30_plain_and_pdf_paths_keep_verbatim():
    """The strip is an HTML-rendering rule: plain and PDF payloads keep
    the characters byte-verbatim (pinned)."""
    k, spans, drop = extract_payload("soft­hyphen plain body text")
    assert k == "plain" and "­" in spans[0][2]
    ops = "BT /F1 12 Tf 72 700 Td (zero​width kept here) Tj ET"
    doc = (
        "%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1"
        " /MediaBox [0 0 612 792] >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        f"4 0 obj\n<< /Length {len(ops)} >>\nstream\n{ops}\nendstream\n"
        "endobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    from paddleocr_spark.oracle import oracle_extract as _o
    k, spans, drop = extract_payload(doc)
    o = _o(doc)
    assert k == "pdf_real" == o["kind"] and spans == o["spans"]
    assert any("​" in s[2] for s in spans)


# ---------------------------------------------------------------------------
# v32: code blocks preserve whitespace (SPEC §2.3 Code blocks)
# ---------------------------------------------------------------------------


def test_v32_pre_preserves_structure():
    """A <pre> block keeps newlines, indentation and tabs verbatim —
    collapsing them destroys exactly what a code block carries."""
    texts = _html_parity(
        "<html><body><article><pre>def f(x):\n    if x &gt; 2:\n"
        "        return x\n    return 0</pre></article></body></html>"
    )
    assert texts == ["def f(x):\n    if x > 2:\n        return x\n    return 0"]


def test_v32_newline_after_pre_drops_and_cr_normalizes():
    """Outer strip subsumes the HTML5 newline-after-<pre> rule; CRLF and
    lone CR normalize to \\n."""
    texts = _html_parity(
        "<html><body><article><pre>\nalpha = 1\r\n\tbeta\rgamma\n</pre>"
        "</article></body></html>"
    )
    assert texts == ["alpha = 1\n\tbeta\ngamma"]


def test_v32_highlight_spans_join_raw():
    """Inline syntax-highlight tags inside <pre> contribute their text
    verbatim at the piece boundaries."""
    texts = _html_parity(
        "<html><body><article><pre><span>for</span> i <span>in</span> xs:\n"
        "  <b>yield</b> i</pre></article></body></html>"
    )
    assert texts == ["for i in xs:\n  yield i"]


def test_v32_inline_code_in_para_still_collapses():
    """Bare <code> inside a paragraph is not white-space:pre — the block's
    kind is para and the normal collapse applies (pinned)."""
    texts = _html_parity(
        "<html><body><article><p>call <code>f( 1,\n   2 )</code> like"
        " this now</p></article></body></html>"
    )
    assert texts == ["call f( 1, 2 ) like this now"]


def test_v32_code_first_para_takes_verbatim_blockwide():
    """A block whose FIRST text sits in inline code takes kind 'code' and
    the verbatim rule block-wide — the documented block-granular
    approximation (pinned)."""
    k, spans, drop = extract_payload(
        "<html><body><article><p><code>x = 1</code>\ntail text here now"
        "</p></article></body></html>"
    )
    o = _ora(
        "<html><body><article><p><code>x = 1</code>\ntail text here now"
        "</p></article></body></html>"
    )
    assert spans == o["spans"]
    assert spans[0][1] == "code" and spans[0][2] == "x = 1\ntail text here now"


def test_v32_whitespace_only_pre_no_candidate():
    texts = _html_parity(
        "<html><body><article><pre>   \n\t \n </pre><p>body text after"
        " here</p></article></body></html>"
    )
    assert texts == ["body text after here"]


# ---------------------------------------------------------------------------
# v34: open-gated <details>/<summary>/<dialog> (SPEC §2.2 Open-gated elements)
# ---------------------------------------------------------------------------

_H34 = "<html><body><article>{}</article></body></html>"


def test_v34_closed_details_shows_summary_hides_body():
    texts = _html_parity(_H34.format(
        "<details><summary>click to expand here</summary>"
        "<p>collapsed body text gone</p></details>"
        "<p>after the widget renders</p>"
    ))
    assert texts == ["click to expand here", "after the widget renders"]


def test_v34_open_boolean_attribute_forms_all_render():
    for attr in ("open", 'open=""', "OPEN", 'open="false"', "open=open"):
        texts = _html_parity(_H34.format(
            f"<details {attr}><summary>widget label text here</summary>"
            "<p>expanded body text shows</p></details>"
        ))
        assert texts == [
            "widget label text here", "expanded body text shows"
        ], attr


def test_v34_near_miss_attrs_stay_closed():
    for attr in ("data-open", 'class="open"', 'aria-open="true"'):
        texts = _html_parity(_H34.format(
            f"<details {attr}><summary>only the summary shows</summary>"
            "<p>near miss body gone</p></details>"
        ))
        assert texts == ["only the summary shows"], attr


def test_v34_dialog_open_gating():
    texts = _html_parity(_H34.format(
        "<dialog><p>closed modal never shows</p></dialog>"
        "<p>page body text renders</p>"
        "<dialog open><p>open modal text shows</p></dialog>"
    ))
    assert texts == ["page body text renders", "open modal text shows"]


def test_v34_summary_placement_rules():
    # second summary child is content; deep summary never shows
    texts = _html_parity(_H34.format(
        "<details><summary>first widget shows here</summary>"
        "<summary>second summary is hidden</summary></details>"
        "<details><div><summary>deep summary is hidden</summary></div>"
        "</details>"
    ))
    assert texts == ["first widget shows here"]
    # a summary inside an OPEN details is ordinary rendered content
    texts2 = _html_parity(_H34.format(
        "<details open><summary>open widget label here</summary></details>"
    ))
    assert texts2 == ["open widget label here"]


def test_v34_nested_disclosure():
    """A closed details inside a visible summary shows its own first
    summary but hides both bodies — the cdet>vsum counter form."""
    texts = _html_parity(_H34.format(
        "<details><summary>outer label shows <details>"
        "<summary>inner label shows</summary><p>inner body gone</p>"
        "</details></summary><p>outer body gone</p></details>"
    ))
    assert texts == ["outer label shows", "inner label shows"]


def test_v34_table_interplay_pinned_both_ways():
    # table inside closed details: no cell text, skeleton dropped+counted
    k, spans, drop = extract_payload(_H34.format(
        "<details><table><tr><td>hidden cell text gone</td></tr></table>"
        "</details><p>after the table renders</p>"
    ))
    o = _ora(_H34.format(
        "<details><table><tr><td>hidden cell text gone</td></tr></table>"
        "</details><p>after the table renders</p>"
    ))
    assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"])
    assert [s[2] for s in spans] == ["after the table renders"]
    # details inside TABLE MODE is intercepted: content extracts (pinned)
    texts = _html_parity(_H34.format(
        "<table><tr><td><details><summary>kept summary text</summary>"
        "</details></td><td>plain cell text</td></tr></table>"
    ))
    assert texts == ["kept summary text | plain cell text"]


def test_v34_hidden_wins_inside_open_details():
    """v29 hidden attrs compose: a hidden child of an OPEN details still
    vanishes; an open details with the hidden attr vanishes wholly."""
    texts = _html_parity(_H34.format(
        "<details open><summary>shown widget label here</summary>"
        "<p hidden>still hidden body text</p></details>"
        "<details open hidden><summary>whole thing hidden now</summary>"
        "</details>"
    ))
    assert texts == ["shown widget label here"]


def test_v34_stray_closes_clamp():
    texts = _html_parity(_H34.format(
        "</details></summary></dialog>"
        "<p>stray closes are harmless no-ops</p>"
    ))
    assert texts == ["stray closes are harmless no-ops"]


def test_v34_truncation_never_raises():
    doc = _H34.format(
        "<details><summary>alpha beta gamma delta</summary>"
        "<dialog open><p>epsilon zeta eta theta</p></dialog></details>"
    )
    for cut in range(len(doc)):
        d = doc[:cut]
        k, spans, drop = extract_payload(d)
        o = _ora(d)
        assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"]), cut


# ---------------------------------------------------------------------------
# v35: ruby annotations (SPEC §2.2 Ruby annotations)
# ---------------------------------------------------------------------------


def test_v35_rp_hides_rt_renders():
    texts = _html_parity(_H34.format(
        "<p>the term <ruby>漢字<rp>(</rp><rt>kanji</rt><rp>)</rp></ruby>"
        " appears here often</p>"
    ))
    assert texts == ["the term 漢字kanji appears here often"]


def test_v35_multi_segment_and_rt_only():
    texts = _html_parity(_H34.format(
        "<p>read <ruby>東<rp>(</rp><rt>tō</rt><rp>)</rp>"
        "京<rp>(</rp><rt>kyō</rt><rp>)</rp></ruby> aloud slowly now</p>"
        "<p>modern <ruby>振り仮名<rt>furigana</rt></ruby> markup here</p>"
    ))
    assert texts == [
        "read 東tō京kyō aloud slowly now",
        "modern 振り仮名furigana markup here",
    ]


def test_v35_rp_is_inline_no_flush():
    """rp must NOT split the paragraph (it is a hidden inline, not a
    block): one candidate, not three."""
    k, spans, drop = extract_payload(_H34.format(
        "<p>alpha <ruby>x<rp>(</rp><rt>y</rt><rp>)</rp></ruby> beta"
        " gamma delta epsilon</p>"
    ))
    assert len(spans) == 1 and spans[0][2] == "alpha xy beta gamma delta epsilon"


def test_v35_table_interplay_and_stray_close():
    # rp inside TABLE MODE is intercepted: parens join the cell (pinned)
    texts = _html_parity(_H34.format(
        "<table><tr><td><ruby>漢字<rp>(</rp><rt>kanji</rt><rp>)</rp>"
        "</ruby></td><td>plain cell text</td></tr></table>"
    ))
    assert texts == ["漢字(kanji) | plain cell text"]
    # stray </rp> clamps
    texts2 = _html_parity(_H34.format(
        "<p>stray</rp> close is a harmless no-op</p>"
    ))
    assert texts2 == ["stray close is a harmless no-op"]


# ---------------------------------------------------------------------------
# v37: table sections (SPEC §2.3 Table sections)
# ---------------------------------------------------------------------------


def test_v37_caption_is_first_line():
    texts = _html_parity(_H34.format(
        "<table><caption>quarterly results table</caption>"
        "<tr><td>alpha one</td><td>beta two</td></tr></table>"
    ))
    assert texts == ["quarterly results table\nalpha one | beta two"]


def test_v37_tfoot_before_tbody_renders_last():
    """The legacy HTML4 source order (tfoot before tbody) still renders
    footer-last — exactly what browsers lay out."""
    texts = _html_parity(_H34.format(
        "<table><thead><tr><th>colA</th><th>colB</th></tr></thead>"
        "<tfoot><tr><td>total x</td><td>total y</td></tr></tfoot>"
        "<tbody><tr><td>row one</td><td>row two</td></tr></tbody></table>"
    ))
    assert texts == ["colA | colB\nrow one | row two\ntotal x | total y"]


def test_v37_bare_tr_after_thead_is_body():
    texts = _html_parity(_H34.format(
        "<table><thead><tr><th>hdr cell</th></tr></thead>"
        "<tr><td>body cell</td></tr></table>"
    ))
    assert texts == ["hdr cell\nbody cell"]


def test_v37_second_thead_is_a_row_group():
    """Only the FIRST thead is the header group (CSS table-header-group,
    the Chrome behavior); a second thead stays in document order."""
    texts = _html_parity(_H34.format(
        "<table><thead><tr><td>first head</td></tr></thead>"
        "<tr><td>mid body</td></tr>"
        "<thead><tr><td>late head stays put</td></tr></thead></table>"
    ))
    assert texts == ["first head\nmid body\nlate head stays put"]


def test_v37_caption_implicit_end_and_empty():
    texts = _html_parity(_H34.format(
        "<table><caption>implicit caption end<tr><td>cell text</td></tr>"
        "</table>"
    ))
    assert texts == ["implicit caption end\ncell text"]
    texts2 = _html_parity(_H34.format(
        "<table><caption>  </caption><tr><td>only cell</td></tr></table>"
    ))
    assert texts2 == ["only cell"]


def test_v37_caption_link_counts():
    """A fully-linked caption contributes link chars — an all-link
    single-cell table with a linked caption must drop on link density."""
    k, spans, drop = extract_payload(_H34.format(
        '<table><caption><a href="/x">linked caption text</a></caption>'
        '<tr><td><a href="/y">linked cell text</a></td></tr></table>'
    ))
    o = _ora(_H34.format(
        '<table><caption><a href="/x">linked caption text</a></caption>'
        '<tr><td><a href="/y">linked cell text</a></td></tr></table>'
    ))
    assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"])
    assert spans == [] and drop == 1


# ---------------------------------------------------------------------------
# v39: media fallback content (SPEC §2.2 Media fallback content)
# ---------------------------------------------------------------------------


def test_v39_video_audio_fallback_vanishes():
    texts = _html_parity(_H34.format(
        '<video controls><source src="/x.mp4"><track kind="captions">'
        "<p>your browser does not support video</p></video>"
        "<audio><source src='/y.ogg'>audio fallback gone</audio>"
        "<p>after the media renders</p>"
    ))
    assert texts == ["after the media renders"]


def test_v39_inline_canvas_keeps_paragraph_whole():
    """canvas is inline-hidden, not a skip-set member: ONE candidate."""
    k, spans, drop = extract_payload(_H34.format(
        "<p>alpha <canvas>fallback chart text</canvas> beta gamma delta</p>"
    ))
    assert len(spans) == 1 and spans[0][2] == "alpha beta gamma delta"


def test_v39_object_fallback_renders():
    texts = _html_parity(_H34.format(
        '<object data="/x.svg"><p>object fallback kept here</p></object>'
    ))
    assert texts == ["object fallback kept here"]


def test_v39_selfclose_and_stray_close_inert():
    texts = _html_parity(_H34.format(
        "<video/><p>selfclosed renders fine here</p>"
        "</canvas><p>stray close renders too</p>"
    ))
    assert texts == [
        "selfclosed renders fine here", "stray close renders too"
    ]


def test_v39_nested_media_and_block_flush_inside():
    """Interior block tags still flush (the v29 rule) but contribute no
    text; nesting media hides once each, closes restore."""
    texts = _html_parity(_H34.format(
        "<video><canvas><p>doubly hidden text</p></canvas>"
        "<p>still hidden text</p></video><p>visible tail text</p>"
    ))
    assert texts == ["visible tail text"]


# --- v41: UA display:block set (SPEC §2.3) ------------------------------


def test_v41_definition_list_segments():
    """Each dt/dd is its own block (UA stylesheet: dt/dd display:block);
    kind stays para (pinned — no li-style counter for definition items)."""
    texts = _html_parity(_H34.format(
        "<dl><dt>HTML</dt><dd>markup language</dd>"
        "<dt>CSS</dt><dd>style sheets</dd></dl>"
    ))
    assert texts == ["HTML", "markup language", "CSS", "style sheets"]
    k, spans, _ = extract_payload(_H34.format("<dl><dt>Term</dt></dl>"))
    assert [s[1] for s in spans if s[2] == "Term"] == ["para"]


def test_v41_figure_figcaption_split_from_prose():
    texts = _html_parity(_H34.format(
        "<p>before text</p><figure><img src='/x.png' alt='alt gone'>"
        "<figcaption>the caption</figcaption></figure><p>after text</p>"
    ))
    assert texts == ["before text", "the caption", "after text"]


def test_v41_form_fieldset_legend_render_as_blocks():
    """Form text renders (only select/textarea/datalist are skipped);
    legend and the button's inline text segment at block edges."""
    texts = _html_parity(_H34.format(
        "<form><fieldset><legend>Settings</legend><p>body text</p>"
        "</fieldset><button>apply now</button></form><p>tail</p>"
    ))
    assert texts == ["Settings", "body text", "apply now", "tail"]


def test_v41_address_center_menu_blocks():
    texts = _html_parity(_H34.format(
        "intro<address>main street 5</address>"
        "<center>centered note</center>"
        "<menu><li>first</li><li>second</li></menu>outro"
    ))
    assert texts == [
        "intro", "main street 5", "centered note", "first", "second",
        "outro",
    ]


def test_v41_selfclose_flushes_stray_close_renders():
    """A self-closing <dd/> is a block boundary exactly like <br/> (the
    flush precedes the void/self-closing skip); a stray </dl> outside
    any list is a lenient no-op pop but still flushes."""
    assert _html_parity(_H34.format("left part<dd/>right part")) == [
        "left part", "right part",
    ]
    assert _html_parity(_H34.format("</dl><p>still here</p>")) == [
        "still here",
    ]


def test_v41_table_mode_intercepts_new_blocks():
    """dt/figure/etc inside table mode are interior no-ops: the cell
    text joins (the v29/v34 interception rule, pinned)."""
    texts = _html_parity(_H34.format(
        "<table><tr><td>cell <dt>joined words</dt></td></tr></table>"
    ))
    assert texts == ["cell joined words"]


def test_v41_inline_stay_inline():
    """button/label/output/marquee are NOT blocks (Chrome renders them
    inline/inline-block) — their text glues to the paragraph."""
    texts = _html_parity(_H34.format(
        "<p>press <button>go</button> or <label>name</label> "
        "<output>42</output> <marquee>scrolls</marquee> end</p>"
    ))
    assert texts == ["press go or name 42 scrolls end"]


# --- v42: legacy rawtext elements (SPEC §2.2) ---------------------------


def test_v42_xmp_renders_tags_and_entities_literally():
    """Inside <xmp> tag-looking runs and entity references are literal
    page text (the HTML RAWTEXT tokenizer state); kind is code and the
    v32 verbatim-whitespace flush applies."""
    texts = _html_parity(_H34.format(
        "<p>before</p><xmp><div class=\"x\">\n  <p>inner</p>\n</div>"
        " &amp; raw</xmp><p>after</p>"
    ))
    assert texts == [
        "before",
        '<div class="x">\n  <p>inner</p>\n</div> &amp; raw',
        "after",
    ]
    k, spans, _ = extract_payload(_H34.format("<xmp>raw sample</xmp>"))
    assert [s[1] for s in spans if s[2] == "raw sample"] == ["code"]


def test_v42_xmp_close_tolerates_ws_and_case():
    assert _html_parity(_H34.format(
        "<xmp>raw bit</ XMP ><p>parsed tail</p>"
    )) == ["raw bit", "parsed tail"]


def test_v42_plaintext_never_exits():
    """PLAINTEXT has no exit state: even a literal </plaintext> renders,
    and everything to end of input is one raw code block."""
    texts = _html_parity(
        "<html><body><p>head</p><plaintext>rest <b>raw</b>"
        "</plaintext> still raw</body></html>"
    )
    assert texts == [
        "head",
        "rest <b>raw</b></plaintext> still raw</body></html>",
    ]


def test_v42_listing_is_pre_block_with_normal_parsing():
    """listing renders white-space:pre (kind code, verbatim) but the
    tokenizer has no rawtext state for it — tags inside parse."""
    texts = _html_parity(_H34.format(
        "<listing>alpha 1\n  beta 2<b>bold joins</b></listing><p>next</p>"
    ))
    assert texts == ["alpha 1\n  beta 2bold joins", "next"]


def test_v42_script_inside_xmp_renders_raw():
    """Skip-set tags are literal text in rawtext — a <script> inside
    <xmp> shows its source instead of vanishing."""
    texts = _html_parity(_H34.format(
        "<xmp><script>var a=1;</script></xmp><p>tail</p>"
    ))
    assert texts == ["<script>var a=1;</script>", "tail"]


def test_v42_comment_token_stays_raw():
    """A comment token inside xmp renders raw; a </xmp> swallowed INTO
    a comment token does not exit (pinned — the v17 comment-alternative
    consumed it whole)."""
    assert _html_parity(_H34.format(
        "<xmp><!-- note --></xmp><p>tail text</p>"
    )) == ["<!-- note -->", "tail text"]
    assert _html_parity(_H34.format(
        "<xmp><!-- a </xmp> b -->never exits here"
    )) == ["<!-- a </xmp> b -->never exits here</article></body></html>"]


def test_v42_suppression_and_interception_pins():
    """v29 hidden suppresses rawtext pieces; table mode intercepts the
    xmp tag (cell text parses normally); self-close inert; stray close
    is a lenient no-op."""
    assert _html_parity(_H34.format(
        "<div hidden><xmp>gone raw</xmp></div><p>seen</p>"
    )) == ["seen"]
    assert _html_parity(_H34.format(
        "<table><tr><td>cell <xmp>joined</xmp></td></tr></table>"
    )) == ["cell joined"]
    assert _html_parity(_H34.format("<xmp/>parses <b>fine</b>")) == [
        "parses fine",
    ]
    assert _html_parity(_H34.format("</xmp><p>stray ok</p>")) == [
        "stray ok",
    ]


# --- v44: cell-internal block boundaries (SPEC §2.3) --------------------


def test_v44_br_separates_cell_lines():
    """`a<br>b` in a cell renders "a\\nb" in a browser — the single-line
    cell collapse makes it one space, never a glued word."""
    texts = _html_parity(_H34.format(
        "<table><tr><td>line one<br>line two</td><td>plain cell</td>"
        "</tr></table>"
    ))
    assert texts == ["line one line two | plain cell"]


def test_v44_inner_block_elements_divide_runs():
    texts = _html_parity(_H34.format(
        "<table><tr><td>top run<p>middle run</p>bottom run</td></tr>"
        "</table>"
    ))
    assert texts == ["top run middle run bottom run"]


def test_v44_inline_tags_still_glue():
    """b/i/span/code are inline — no boundary, the browser glues."""
    texts = _html_parity(_H34.format(
        "<table><tr><td><b>bold</b><i>italic</i><span>span</span></td>"
        "</tr></table>"
    ))
    assert texts == ["bolditalicspan"]


def test_v44_caption_br_collapses_to_space():
    texts = _html_parity(_H34.format(
        "<table><caption>cap one<br>cap two</caption>"
        "<tr><td>cell text</td></tr></table>"
    ))
    assert texts == ["cap one cap two\ncell text"]


def test_v44_structure_tags_inject_nothing_extra():
    """tr/td/th/section tags keep their own dispatch — a plain
    two-cell row is byte-identical to the pre-v44 join."""
    texts = _html_parity(_H34.format(
        "<table><tr><td>alpha beta</td><td>gamma delta</td></tr></table>"
    ))
    assert texts == ["alpha beta | gamma delta"]


def test_v44_hidden_cell_content_still_suppressed():
    """v29 pin: a table inside a hidden subtree accumulates no text —
    injected separators collapse to nothing (empty skeleton dropped)."""
    k, spans, drop = extract_payload(_H34.format(
        "<div hidden><table><tr><td>gone<br>text</td></tr></table></div>"
        "<p>visible tail</p>"
    ))
    o = _ora(_H34.format(
        "<div hidden><table><tr><td>gone<br>text</td></tr></table></div>"
        "<p>visible tail</p>"
    ))
    assert (k, spans, drop) == (o["kind"], o["spans"], o["n_dropped"])
    assert [s[2] for s in spans] == ["visible tail"]


# --- v46: foreign content (SPEC §2.2) -----------------------------------


def test_v46_icon_svg_keeps_paragraph_whole():
    """innerText excludes SVG content (the traversal covers HTML
    elements only) and the inline svg never splits its paragraph."""
    texts = _html_parity(_H34.format(
        "<p>alpha before <svg viewBox=\"0 0 24 24\"><title>Close</title>"
        "<text>SVGTEXT</text><path d=\"M0 0\"/></svg> omega after</p>"
    ))
    assert texts == ["alpha before omega after"]


def test_v46_interior_tags_are_inert():
    """Inside svg NOTHING is HTML: fake <p>, skip-set members, block
    tags — all inert until the matching close; nesting counted."""
    texts = _html_parity(_H34.format(
        "<p>alpha<svg><svg><text>deep</text></svg><style>.x{}</style>"
        "<p>fake para</p></svg>beta</p><p>tail text</p>"
    ))
    assert texts == ["alphabeta", "tail text"]


def test_v46_mathml_renders_annotations_hide():
    texts = _html_parity(_H34.format(
        "<p>eq <math><mi>x</mi><mo>+</mo><mn>2</mn><semantics><mrow>"
        "<mi>y</mi></mrow><annotation encoding=\"application/x-tex\">"
        "y^2 tex</annotation><annotation-xml><mi>zz</mi>"
        "</annotation-xml></semantics></math> rest text</p>"
    ))
    assert texts == ["eq x+2y rest text"]


def test_v46_svg_inside_cell_and_skip_and_rawtext():
    """Cell icon svg hides without ending the cell; an <svg> inside a
    script string never enters (skip wins); inside <xmp> it renders
    literally (rawtext wins)."""
    assert _html_parity(_H34.format(
        "<table><tr><td>cell <svg><text>gone</text></svg>text</td></tr>"
        "</table>"
    )) == ["cell text"]
    assert _html_parity(_H34.format(
        "<script>var s = \"<svg>\";</script><p>after script text</p>"
    )) == ["after script text"]
    assert _html_parity(_H34.format(
        "<xmp><svg>raw literal</svg></xmp><p>tail here</p>"
    )) == ["<svg>raw literal</svg>", "tail here"]


def test_v46_svg_traps():
    assert _html_parity(_H34.format(
        "<svg/><p>selfclosed svg renders</p>"
    )) == ["selfclosed svg renders"]
    assert _html_parity(_H34.format(
        "</svg><p>stray close fine</p>"
    )) == ["stray close fine"]
    assert _html_parity(_H34.format(
        "<p>head text</p><svg><text>never closed"
    )) == ["head text"]


# --- v50: declarative shadow DOM (SPEC §2.2) ----------------------------


def test_v50_shadowroot_content_renders():
    texts = _html_parity(_H34.format(
        '<template shadowrootmode="open"><p>shadow para text</p>'
        "<style>.s{color:red}</style></template><p>light text</p>"
    ))
    assert texts == ["shadow para text", "light text"]
    assert _html_parity(_H34.format(
        "<template shadowrootmode=closed><p>closed also renders</p>"
        "</template>"
    )) == ["closed also renders"]


def test_v50_invalid_modes_stay_inert():
    """The streaming-parser rule: only open/closed create a shadow
    root; anything else is an ordinary (skipped) template."""
    assert _html_parity(_H34.format(
        '<template shadowrootmode="maybe"><p>still hidden</p></template>'
        "<p>tail text</p>"
    )) == ["tail text"]
    assert _html_parity(_H34.format(
        "<template shadowrootmode><p>hidden here</p></template>"
        "<p>tail two</p>"
    )) == ["tail two"]
    assert _html_parity(_H34.format(
        '<template data-shadowrootmode="open"><p>near miss</p>'
        "</template><p>tail three</p>"
    )) == ["tail three"]


def test_v50_nested_inside_plain_template_is_inert():
    """Inside an active skip the shadow open deepens the counter (the
    subtree is inert and the closes stay balanced)."""
    assert _html_parity(_H34.format(
        '<template><template shadowrootmode="open"><p>inner gone</p>'
        "</template></template><p>after all</p>"
    )) == ["after all"]


# --- v55: popover attribute (SPEC §2.2) ---------------------------------


def test_v55_popover_hides_until_shown():
    """UA [popover]{display:none}: a popover's content never renders in
    static extraction; the invoking button's label does."""
    texts = _html_parity(_H34.format(
        '<button popovertarget="m1">open menu</button>'
        '<div popover id="m1"><p>popover body text</p></div>'
        "<p>after popover</p>"
    ))
    assert texts == ["open menu", "after popover"]
    assert _html_parity(_H34.format(
        '<div popover="manual"><p>manual popover gone</p></div>'
        "<p>visible tail</p>"
    )) == ["visible tail"]


def test_v55_near_miss_pins_render():
    assert _html_parity(_H34.format(
        '<p class="popover">classy popover renders</p>'
    )) == ["classy popover renders"]
    assert _html_parity(_H34.format(
        '<button popovertargetaction="show">action label text</button>'
        "<p>tail here</p>"
    )) == ["action label text", "tail here"]


# ---------------------------------------------------------------------------
# v58: document <style> sheets — class/id hiding (SPEC §2.2 Stylesheet
# hiding); scope pins: top-level rules, simple .class/#id selectors only,
# lowercase <style> tags, document-wide (position-independent) application
# ---------------------------------------------------------------------------


def test_v58_sheet_class_and_id_hide():
    texts = _html_parity(_H34.format(
        "<style>.nav2 { display: none } #foot2 { visibility:hidden; }</style>"
        '<div class="nav2"><p>menu junk vanishes</p></div>'
        "<p>body text stays here</p>"
        '<p id="foot2">footer junk vanishes</p>'
    ))
    assert texts == ["body text stays here"]


def test_v58_sheet_applies_backward_and_from_hidden_subtree():
    """Stylesheets are document-wide: a sheet AFTER its target, or inside
    a hidden/skipped subtree, still hides it."""
    assert _html_parity(_H34.format(
        '<p class="late">late target vanishes</p><p>kept text here</p>'
        "<style>.late{display:none}</style>"
    )) == ["kept text here"]
    assert _html_parity(_H34.format(
        "<div hidden><style>#h9{display:none}</style></div>"
        '<p id="h9">still hides fine</p><p>other text stays</p>'
    )) == ["other text stays"]


def test_v58_near_miss_selectors_render():
    """@media bodies, pseudo-classes, descendant combinators,
    tag-qualified selectors, commented-out rules and display:block all
    leave their elements rendered."""
    texts = _html_parity(_H34.format(
        "<style>"
        "@media (max-width:600px){.mq{display:none}}"
        " .ps:hover{display:none}"
        " .an .de{display:none}"
        " div.tq{display:none}"
        " .ok{display:block}"
        " /* .cm{display:none} */"
        "</style>"
        '<p class="mq">media renders text</p>'
        '<p class="ps">pseudo renders text</p>'
        '<p class="de">descendant renders text</p>'
        '<div class="tq">tagqual renders text</div>'
        '<p class="ok">block renders text</p>'
        '<p class="cm">commented renders text</p>'
    ))
    assert texts == [
        "media renders text", "pseudo renders text",
        "descendant renders text", "tagqual renders text",
        "block renders text", "commented renders text",
    ]


def test_v58_uppercase_style_rules_not_applied():
    """Uppercase <STYLE> content vanishes (skip set is case-blind) but
    its rules keep the pre-v58 degrade: not applied (pinned)."""
    assert _html_parity(_H34.format(
        "<STYLE>.up{display:none}</STYLE>"
        '<p class="up">upper still renders</p>'
    )) == ["upper still renders"]


def test_v58_unterminated_sheet_rules_apply():
    """An unterminated <style> consumes the rest of the document as skip
    content, and its rules still apply to everything before it."""
    assert _html_parity(_H34.format(
        '<p class="gone">target text vanishes</p><p>kept body text</p>'
        "<style>.gone{display:none} .x{"
    )) == ["kept body text"]


def test_v58_sheet_hidden_table_and_multiclass():
    assert _html_parity(_H34.format(
        "<style>.tgone{display:none}</style>"
        '<table class="tgone"><tr><td>cell gone</td></tr></table>'
        '<p class="deco tgone">multiclass gone too</p>'
        "<p>after table stays</p>"
    )) == ["after table stays"]


def test_v58_id_first_match_and_case_sensitivity():
    """id matching is value-case-sensitive; grid=/data-id= never match
    (the lookbehind pin)."""
    assert _html_parity(_H34.format(
        "<style>#Case{display:none}</style>"
        '<p id="case">lower renders fine</p>'
        '<p id="Case">upper vanishes now</p>'
        '<p data-id="Case">datum renders fine</p>'
    )) == ["lower renders fine", "datum renders fine"]


# ---------------------------------------------------------------------------
# Corpus sweeps: one row per HTML wave. Each row checks kernel == oracle on
# every corpus doc of its seed window, and that the wave's constructs fire
# at least ``at_least`` times over ``band`` (default: the same window).
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _html_doc(seed: int) -> str:
    """The corpus generator's HTML payload for ``seed``, built once per test run."""
    return _mk_html(_random.Random(seed), _W17)


def _has(*subs: str) -> Callable[[str], bool]:
    """Predicate: the document contains at least one of ``subs``."""
    return lambda doc: any(sub in doc for sub in subs)


class Fires(NamedTuple):
    construct: str  # a substring of the document, unless ``test`` is given
    at_least: int
    test: Optional[Callable[[str], object]] = None
    band: Optional[range] = None  # seeds counted; default the parity window


class Wave(NamedTuple):
    wave: str
    seeds: range
    fires: tuple = ()


WAVES = (
    Wave("v17", range(2000, 2800), (
        Fires("> inside an attribute", 100, _has(' title="', "?a>b")),
        Fires("<script", 50),
        Fires("class=sidebar", 300, _has("class=sidebar", "class='sidebar'")),
    )),
    Wave("v26", range(9400, 10200), (
        Fires("form control", 100, _has("<select", "<textarea")),
        Fires("non-rendered subtree", 100, _has("<noscript>", "<iframe", "<template>")),
        Fires("form-control trap", 15, _has("</select><p>", "<textarea/>")),
    )),
    Wave("v29", range(11800, 12600), (
        Fires("hidden attribute", 30, _has("hidden>", 'hidden="', "HIDDEN")),
        Fires("hiding style", 25, _has(
            "display:none", "display: none", "display :none", "visibility: hidden")),
        Fires("renders</p>", 15),
    )),
    Wave("v30", range(12600, 13400), (
        Fires("soft hyphen", 25, _has("&shy;", "\xad")),
        Fires("zero-width space", 20, _has("\u200b", "&#8203;")),
        Fires("ZWNJ or ZWJ", 5, _has("\u200c", "\u200d")),
    )),
    Wave("v32", range(14200, 15000), (
        Fires("<pre>", 40), Fires("\r", 5), Fires("<code>", 5),
    )),
    Wave("v34", range(15800, 16600), (
        Fires("<details><summary>", 20),
        Fires("open details", 10, _has("<details open", "<details OPEN")),
        Fires("<dialog", 5),
        Fires("open near-miss", 5, _has("data-open", 'class="open"', "aria-open")),
    )),
    Wave("v35", range(16600, 17400), (
        Fires("<ruby>", 25), Fires("<rp>", 15), Fires("<td><ruby>", 2),
    )),
    Wave("v37", range(18200, 19000), (
        Fires("<caption>", 10), Fires("</tfoot><tbody>", 5), Fires("<thead>", 15),
    )),
    Wave("v39", range(19800, 20600), (
        Fires("<video", 10), Fires("<canvas>", 8), Fires("<object", 5),
    )),
    Wave("v41", range(21400, 22200), (
        Fires("<dl>", 8), Fires("<figure>", 6), Fires("<fieldset>", 5),
    )),
    Wave("v42", range(22200, 23000), (
        Fires("<xmp", 8), Fires("<plaintext>", 4), Fires("<listing>", 4),
    )),
    Wave("v44", range(23800, 24600), (
        Fires("<br> in a table", 5, lambda d: "<br>" in d and "<table" in d),
    )),
    Wave("v46", range(25400, 26200), (Fires("<svg", 15), Fires("<math>", 5))),
    Wave("v50", range(28600, 29400), (Fires("shadowrootmode", 10),)),
    Wave("v55", range(32600, 33400), (
        Fires("popover", 15, band=range(32600, 35000)),
    )),
    Wave("v58", range(36600, 37400), (
        Fires("style sheet hide", 15, _has("sheetgone", "idgone", "multiclass")),
    )),
)


def _sweep(wave: Wave) -> None:
    for seed in wave.seeds:
        _html_parity(_html_doc(seed), where=(wave.wave, seed))
    for f in wave.fires:
        test = f.test or (lambda doc: f.construct in doc)
        n = sum(1 for seed in f.band or wave.seeds if test(_html_doc(seed)))
        assert n >= f.at_least, (wave.wave, f.construct, n)


def _row_test(wave: Wave):
    def test():
        _sweep(wave)
    return test


# One named test per row, so ``-k v58`` selects one wave and a failure names it.
for _wave in WAVES:
    globals()[f"test_{_wave.wave}_corpus_fuzz_parity"] = _row_test(_wave)
