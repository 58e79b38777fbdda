"""Extraction configuration.

The reference drives every stage from a YAML config tree
(/root/reference/configs/det/det_mv3_db.yml:1-60, merged overrides at
paddleocr/_pipelines/ocr.py:237-306).  The new engine replaces that with a
single frozen dataclass: Catalyst is the plan IR, this is the knob set.

Threshold lineage (reference file:line → field here):
- ``min_chars``       ← DBPostProcess ``min_size=3`` (ppocr/postprocess/db_postprocess.py:34-57)
- ``max_candidates``  ← DBPostProcess ``max_candidates=1000`` (db_postprocess.py:38,75,126)
- ``drop_score``      ← tools/infer/utility.py:109 (default 0.5), applied at
                        tools/infer/predict_system.py:149-154
- ``y_band``          ← the 10px y-tolerance in ``sorted_boxes``
                        (tools/infer/predict_system.py:160-182), made deterministic
                        by quantization (SURVEY.md §2.5)
- ``header_y``/``footer_y`` ← header/footer drop in markdown recovery
                        (ppstructure/recovery/recovery_to_markdown.py:168-169)
- ``xy_min_gap``      ← XY projection-profile zero-run split
                        (ppocr/data/imaug/table_ops.py:35-138)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    # -- HTML block keep predicates (detect analog) --
    min_chars: int = 3              # blocks shorter than this are dropped
    max_candidates: int = 1000      # cap candidate blocks per turn
    drop_score: float = 0.5         # span score floor (score = 1 - link_density)

    # -- PDF-like layout (layout/XY-cut analog) --
    # layout_mode: "xycut" (default) = recursive projection-profile cuts
    # (table_ops.py:35-138); "walk" = the full sorted_layout_boxes stateful
    # left/right interleaving walk (recovery_to_doc.py:87-155) — the
    # reference's recovery ordering, for payloads whose column structure is
    # conventional (w/4 / w/2 / 3w/4 thresholds)
    layout_mode: str = "xycut"
    page_w: int = 800
    page_h: int = 1000
    header_y: int = 50              # blocks fully above this line are header → drop
    footer_y: int = 950             # blocks fully below this line are footer → drop
    y_band: int = 10                # banded reading-order quantum (10px tolerance)
    xy_min_gap: int = 1             # minimum projection gap that splits a region
    merge_fragments: bool = False   # fixpoint merge of adjacent fragments
                                    # (merge_fragmented analog,
                                    # tools/infer/utility.py:980-1027); off by
                                    # default to keep golden fixtures stable

    # -- paragraph merge (check_merge_method / convert_text_space_head/tail
    #    analog, ppstructure/recovery/recovery_to_markdown.py:23-126).
    #    Off by default: recovery is opt-in in the reference too
    #    (--recovery, ppstructure/predict_system.py:371-394).
    merge_paragraphs: bool = False
    para_gap: int = 50              # max y-gap between lines of one paragraph
    indent_tol: int = 20            # x-indent beyond this starts a paragraph
                                    # (the indent-style head rule)
    trail_tol: int = 30             # prev line ending this far short of the
                                    # next line's right edge ends a paragraph
                                    # (the trailing-space tail rule)

    # -- formula routing (the ppstructure formula-branch analog,
    #    ppstructure/predict_system.py:171-174: regions routed to the LaTeX
    #    recognizer; here display-math blocks $$...$$ become kind="formula"
    #    spans with the inner content preserved verbatim). Off by default:
    #    goldens unchanged, mirroring the reference's --formula flag.
    detect_formula: bool = False

    # -- real-PDF invisible text (SPEC §3b Text render mode, v9). Mode-3
    #    (Tr 3) text is the OCR-text-layer of scanned pages — extracted by
    #    default, exactly what this engine exists to read. True = suppress
    #    it (each suppressed show op with a string operand counts dropped).
    drop_invisible_text: bool = False

    # -- real-PDF marked content (SPEC §3b Marked content, v24). Content
    #    inside an /Artifact marked-content level (ISO 32000 §14.8.2.2.2:
    #    pagination headers/footers, decorations — "not part of the
    #    author's original content") is suppressed by default — the
    #    PDF-side analog of the HTML nav/header/footer boilerplate rule.
    #    True = keep artifact text (each suppressed show op counts dropped
    #    when False, the invisible-text accounting rule).
    keep_artifact_text: bool = False

    # -- assembly --
    para_sep: str = "\n\n"

    # -- row-level skew guard (SURVEY.md §7 hard-part #2) --
    # one turn with a giant payload can stall an Arrow batch; payloads are
    # truncated to this many chars before parsing — the analog of the
    # reference slicing extreme-aspect inputs (predict_det.py:307-408)
    max_payload_chars: int = 1 << 22

    # -- Spark execution knobs (plan-construction decisions, SURVEY.md §4.2) --
    salt_buckets: int = 64          # pmod(hash(turn_idx), S) salt for conv skew
    arrow_max_records: int = 2048   # spark.sql.execution.arrow.maxRecordsPerBatch

    # tags whose subtree is boilerplate by container (Readability-style)
    boiler_tags: frozenset = field(
        default_factory=lambda: frozenset({"nav", "header", "footer", "aside"})
    )
    # class token that marks a boilerplate container
    boiler_class: str = "sidebar"


DEFAULT_CONFIG = ExtractConfig()
