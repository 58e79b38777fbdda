"""PDF-like payload parsing + XY-cut reading order.

The engine's *layout analysis* analog (SURVEY.md §2.5, §2.9):

- XY projection-profile cut ← /root/reference/ppocr/data/imaug/table_ops.py:35-138
  (binarize → project → split at zero-runs → recurse), re-expressed directly on
  block coordinates: no raster needed, O(n log n) per page.
- Two-column reading order ← sorted_layout_boxes
  (/root/reference/ppstructure/recovery/recovery_to_doc.py:87-155): emerges
  naturally from the vertical cut of the recursion.
- Banded top→bottom/left→right ordering with 10px y-tolerance ← sorted_boxes
  (/root/reference/tools/infer/predict_system.py:160-182). The tolerance is made
  DETERMINISTIC by quantizing y into bands of cfg.y_band and sorting on
  (y0 // band, x0, input_line_idx) — a total order stable under any partitioning
  (SURVEY.md §7 hard-part #1).
- Header/footer band drop ← recovery_to_markdown.py:168-169.
- Multi-page payloads ← check_and_read page explode + img_idx reassembly
  (/root/reference/ppocr/utils/utility.py:119-152).

Payload mini-format (FIXTURES.md §2.2)::

    PDFLIKE v1
    page_idx|x0,y0,x1,y1|block text

Malformed lines are skipped, never raised (DecodeImage-None analog).
"""

from __future__ import annotations

from typing import List, Tuple

from ..config import ExtractConfig, DEFAULT_CONFIG
from .textnorm import collapse_ws

Box = Tuple[int, int, int, int, int, str]  # x0, y0, x1, y1, line_idx, text


def parse_pdflike(text: str) -> List[Tuple[int, Box]]:
    """Parse payload → list of (page_idx, box). Malformed lines skipped."""
    out = []
    lines = text.split("\n")
    for i, line in enumerate(lines[1:]):  # line 0 is the 'PDFLIKE v1' header
        if not line.strip():
            continue
        parts = line.split("|", 2)
        if len(parts) != 3:
            continue
        try:
            page = int(parts[0].strip())
            coords = [int(c.strip()) for c in parts[1].split(",")]
            if len(coords) != 4:
                continue
        except ValueError:
            continue
        x0, y0, x1, y1 = coords
        out.append((page, (x0, y0, x1, y1, i, parts[2])))
    return out


def _split_1d(blocks: List[Box], lo_i: int, hi_i: int, min_gap: int) -> List[List[Box]]:
    """Split blocks into groups wherever the interval projection has a gap."""
    order = sorted(blocks, key=lambda b: (b[lo_i], b[hi_i], b[4]))
    groups: List[List[Box]] = []
    cur: List[Box] = []
    cur_max = None
    for b in order:
        if cur_max is not None and b[lo_i] >= cur_max + min_gap:
            groups.append(cur)
            cur = []
        cur.append(b)
        cur_max = b[hi_i] if cur_max is None or b[hi_i] > cur_max else cur_max
    if cur:
        groups.append(cur)
    return groups


def xy_cut(blocks: List[Box], cfg: ExtractConfig = DEFAULT_CONFIG) -> List[Box]:
    """Recursive XY-cut: try vertical (x) split FIRST — a whole-page x-gap is a
    column boundary, and columns must be read fully left→right before rows
    (sorted_layout_boxes semantics, recovery_to_doc.py:87-155) — then
    horizontal (y), else banded lexicographic sort (the sorted_boxes analog).
    Full-width blocks bridge the column gap, so single-column pages with
    occasional side-by-side pairs still split by rows first."""
    if len(blocks) <= 1:
        return list(blocks)
    g = _split_1d(blocks, 0, 2, cfg.xy_min_gap)  # x-projection (columns)
    if len(g) > 1:
        out: List[Box] = []
        for grp in g:
            out.extend(xy_cut(grp, cfg))
        return out
    g = _split_1d(blocks, 1, 3, cfg.xy_min_gap)  # y-projection (rows)
    if len(g) > 1:
        out = []
        for grp in g:
            out.extend(xy_cut(grp, cfg))
        return out
    return sorted(blocks, key=lambda b: (b[1] // cfg.y_band, b[0], b[4]))


def layout_walk(boxes: List[Box], page_w: int) -> List[Tuple[Box, str]]:
    """Full ``sorted_layout_boxes`` stateful walk
    (/root/reference/ppstructure/recovery/recovery_to_doc.py:87-155).

    Boxes are visited in (y0, x0) order (line_idx tie-break for determinism —
    the reference relies on Python's stable sort over input order). Each
    non-final box is classified: *left column* iff x0 < w/4 ∧ x1 < 3w/4,
    *right column* iff x0 > w/4 ∧ x1 > w/2, else *single* (full-width).
    Left/right boxes accumulate; a single flushes the accumulated left run
    then the right run before emitting itself — this interleaving is what the
    per-box predicates alone cannot express. The FINAL box uses different
    rules (recovery_to_doc.py:109-131): it is single only if it starts below
    the previous box's bottom AND spans the centerline; otherwise it joins
    the right column if x1 > w/2, else the left column, and the columns
    flush. Returns ``[(box, layout)]`` in emission order with the
    reference's "single"/"double" layout labels.

    Equivalence: tests/test_layout_walk.py fuzz-verifies this walk against an
    independently derived relational closed form (segment-by-singles +
    class-rank ordering) — the same closed form the layout_order DuckDB
    oracle and the pure-Python oracle use.
    """
    n = len(boxes)
    if n == 0:
        return []
    srt = sorted(boxes, key=lambda b: (b[1], b[0], b[4]))
    if n == 1:
        return [(srt[0], "single")]
    half, quarter, three_q = page_w / 2, page_w / 4, 3 * page_w / 4
    out: List[Tuple[Box, str]] = []
    left: List[Tuple[Box, str]] = []
    right: List[Tuple[Box, str]] = []
    for i, b in enumerate(srt):
        x0, y0, x1 = b[0], b[1], b[2]
        if i == n - 1:
            prev = srt[i - 1]
            if y0 > prev[3] and x0 < half and x1 > half:
                out += left
                out += right
                out.append((b, "single"))
                left, right = [], []
            elif x1 > half:
                right.append((b, "double"))
                out += left
                out += right
                left, right = [], []
            elif x0 < half:
                left.append((b, "double"))
                out += left
                out += right
                left, right = [], []
            # else: degenerate box (x0 >= w/2 ≥ x1) is dropped, columns
            # flush below — mirrors the reference's fall-through
            break
        if x0 < quarter and x1 < three_q:
            left.append((b, "double"))
        elif x0 > quarter and x1 > half:
            right.append((b, "double"))
        else:
            out += left
            out += right
            out.append((b, "single"))
            left, right = [], []
    out += left
    out += right
    return out


def merge_paragraph_lines(ordered: List[Box], cfg: ExtractConfig = DEFAULT_CONFIG) -> List[Box]:
    """Group consecutive ordered lines into paragraphs — the
    ``check_merge_method`` / ``convert_text_space_head`` / ``_tail`` analog
    (/root/reference/ppstructure/recovery/recovery_to_markdown.py:23-126):
    the reference decides paragraph boundaries from first-line indentation
    and from lines that end short of the row width; re-expressed as a
    deterministic local rule over the XY-cut-ordered line sequence.

    Line ``b`` joins the current paragraph (first line ``f``, last line
    ``a``, union box ``U``) iff ALL of:

      1. x-overlap with U      — same column (column jumps break y-adjacency
                                 anyway, so paragraphs never span columns)
      2. 0 <= b.y0 - a.y1 <= cfg.para_gap      — reads strictly downward
      3. b.x0 - f.x0 <= cfg.indent_tol         — indent starts a paragraph
                                                 (head rule)
      4. a.x1 >= b.x1 - cfg.trail_tol          — a short previous line ends
                                                 the paragraph (tail rule)

    Merged text joins left→right with a single space; the box is the union;
    line_idx is the first line's (stable tie-break)."""
    out: List[Box] = []
    cur: List[Box] = []
    for b in ordered:
        if cur:
            f, a = cur[0], cur[-1]
            ux0 = min(c[0] for c in cur)
            ux1 = max(c[2] for c in cur)
            if (
                max(ux0, b[0]) < min(ux1, b[2])
                and 0 <= b[1] - a[3] <= cfg.para_gap
                and b[0] - f[0] <= cfg.indent_tol
                and a[2] >= b[2] - cfg.trail_tol
            ):
                cur.append(b)
                continue
            out.append(_fold_para(cur))
            cur = []
        cur.append(b)
    if cur:
        out.append(_fold_para(cur))
    return out


def _fold_para(lines: List[Box]) -> Box:
    if len(lines) == 1:
        return lines[0]
    return (
        min(c[0] for c in lines),
        min(c[1] for c in lines),
        max(c[2] for c in lines),
        max(c[3] for c in lines),
        lines[0][4],
        " ".join(c[5] for c in lines),
    )


def pdflike_spans(text: str, cfg: ExtractConfig = DEFAULT_CONFIG):
    """Full PDF-like path → (spans, n_dropped).

    spans: list of (kind, text, score, bbox) in reading order across pages.
    Dropped: header/footer-band blocks and too-short blocks.
    """
    parsed = parse_pdflike(text)
    n_dropped = 0
    by_page = {}
    for page, box in parsed:
        x0, y0, x1, y1, i, t = box
        if y1 <= cfg.header_y or y0 >= cfg.footer_y:
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
        for x0, y0, x1, y1, i, t in ordered:
            clean = collapse_ws(t)
            if len(clean) < cfg.min_chars:
                if clean:
                    n_dropped += 1
                continue
            spans.append(("para", clean, 1.0, [x0, y0, x1, y1]))
    return spans, n_dropped
