"""Per-turn main-content extraction: the reference's 01 -> 01b -> 02 ->
02a -> 03 path compressed into one pure function.

This function is the single source of truth for per-turn semantics: the
golden oracle (medical_ocr_pipeline_spark.oracle) calls it single-process,
and the Spark pipeline (medical_ocr_pipeline_spark.pipeline) calls it
inside mapInArrow over Arrow batches — so "per-turn text equality under
stable turn ordering" holds by construction, and pytest verifies that
Spark's partitioning/ordering/skew machinery preserves it.

Stage order (reference lifecycle, SURVEY.md §3.1):
  01  parse payload -> normalize conf/bbox -> confidence gate (P1) ->
      empty filter (P2) -> raw-fragment dedup (J1 applied pre-regroup;
      our documented improvement — cross-source near-duplicates would
      otherwise be " "-joined into the same line by A1 and survive
      paragraph-level dedup) -> line+paragraph regroup (A1/A2,
      01_extract_blocks cell 4:321-372) -> paragraph dedup (J1, cell
      4:374-386) -> section tag (P7, cell 4:106-110)
  01b adaptive row merge + header/footer band tagging + two-column
      stitch (A3/P6/A8, 01b_normalize_layout cell 0:148-224)
  02  cleanup rules+dictionary+fuzzy (F1/J2/J3, 02_domain_cleanup
      cell 0:93-121) -> text_cleaned
  03  deterministic choose_text with digit preservation (F7/F8,
      03_llm_cleanup cell 5) -> per-block final text; min-length (P3)
  02a heading/gap segmentation with bullet-aware soft join (W4,
      02a_segment_general cell 0:53-100)
  A12 final text materialize: "\\n"-joined segment texts in reading order.
"""

from __future__ import annotations

from typing import NamedTuple

from medical_ocr_pipeline_spark.constants import (
    FOOTER_FRAC,
    HEADER_FRAC,
    MIN_CONF,
    MIN_TEXT_LEN,
    PAGE_H,
)
from medical_ocr_pipeline_spark.core.dedup_blocks import deduplicate
from medical_ocr_pipeline_spark.core.lineify import regroup_lines
from medical_ocr_pipeline_spark.core.normalize import normalize_turn
from medical_ocr_pipeline_spark.core.parse import (
    escalate,
    grid_rescue,
    need_escalation,
    parse_payload,
)
from medical_ocr_pipeline_spark.core.segment import segment_turn
from medical_ocr_pipeline_spark.core.select import select_final
from medical_ocr_pipeline_spark.core.textnorm import (
    apply_dictionary,
    apply_fuzzy,
    apply_rules,
)


class ExtractResult(NamedTuple):
    text_final: str
    n_blocks: int
    n_segments: int
    mean_conf: float
    bytes_stripped: int
    parse_failures: int
    n_header: int
    n_footer: int
    two_col: bool
    variant: str


def section_of(bbox: list[float], page_h: float = PAGE_H) -> str:
    """P7: center-y < 0.25H -> header, > 0.85H -> footer, else body."""
    cy = (bbox[1] + bbox[3]) / 2.0
    if cy < HEADER_FRAC * page_h:
        return "header"
    if cy > FOOTER_FRAC * page_h:
        return "footer"
    return "body"


def extract_turn_blocks(payload: str, enable_fuzzy: bool = True):
    """Full pipeline, returning intermediates for QA operators:
    (result, gated_raw_blocks, final_blocks)."""
    raw_blocks, variant, parse_failures = parse_payload(payload)

    # two-pass escalation (P4/P12/J9): heavy fallback when the structured
    # parse yields too little text.  html escalates on weak yield (the
    # heavy pass strips tags, so no markup re-enters); layout escalates
    # only when NOTHING parsed (otherwise raw coordinate syntax would be
    # reintroduced next to correctly parsed lines); json never escalates
    # (its parser has its own fence-strip fallback).
    if (variant == "html" and need_escalation(raw_blocks)) or (
        variant == "layout" and not raw_blocks
    ):
        raw_blocks = escalate(payload, raw_blocks)
        variant = variant + "+heavy"
    elif variant == "layout" and parse_failures:
        # P5/J9 literal form: sparse grid cells get a cell-scoped relaxed
        # re-parse of the lines the strict parser rejected, translated
        # back into page coordinates (01_extract_blocks cell 2:26-55).
        # Gated on parse_failures: with zero strict failures the relaxed
        # pass can find nothing, so skipping it is a pure fast path.
        rescued = grid_rescue(payload, raw_blocks)
        if rescued:
            raw_blocks = raw_blocks + rescued
            variant = variant + "+rescue"

    return finish_extract(
        raw_blocks, variant, parse_failures, payload, enable_fuzzy=enable_fuzzy
    )


def finish_extract(raw_blocks: list[dict], variant: str, parse_failures: int,
                   payload: str, enable_fuzzy: bool = True):
    """Stages 01 (post-parse) through A12, shared by the single-dispatch
    path above and the k-way ensemble path (core/ensemble.py): gates ->
    dedup -> regroup -> dedup -> sections -> normalize -> cleanup ->
    select -> segment -> materialize."""
    # 01: P1 confidence gate + P2 empty-text filter
    gated = [
        b for b in raw_blocks
        if b["confidence"] >= MIN_CONF and b["text"] and b["text"].strip()
    ]
    prededup = deduplicate(gated)        # J1 on raw fragments (improvement)
    paras = regroup_lines(prededup)      # A1 + A2
    deduped = deduplicate(paras)         # J1 on paragraphs (reference order)
    for b in deduped:
        b["section"] = section_of(b["bbox"])   # P7

    # 01b: adaptive row merge, bands, two-column
    normalized, stats = normalize_turn(deduped)

    # 02 cleanup + 03 deterministic selection
    final_blocks: list[dict] = []
    for b in normalized:
        t = apply_rules(b["text"])                 # F1
        t, _ = apply_dictionary(t)                 # J2
        if enable_fuzzy:
            t, _ = apply_fuzzy(t)                  # J3
        label, chosen = select_final(b["text"], t)  # F7/F8 digit guard
        b["text_cleaned"] = t
        b["text"] = chosen
        b["kept_label"] = label
        if len(chosen.strip()) >= MIN_TEXT_LEN:    # P3
            final_blocks.append(b)

    # 02a segmentation + A12 materialize
    segments = segment_turn(final_blocks)
    text_final = "\n".join(s["text"] for s in segments if s["text"])

    n = len(final_blocks)
    mean_conf = (
        sum(b.get("confidence", 1.0) for b in final_blocks) / n if n else 0.0
    )
    payload_bytes = len(payload.encode("utf-8")) if payload else 0
    bytes_stripped = max(0, payload_bytes - len(text_final.encode("utf-8")))
    result = ExtractResult(
        text_final=text_final,
        n_blocks=n,
        n_segments=len(segments),
        mean_conf=mean_conf,
        bytes_stripped=bytes_stripped,
        parse_failures=parse_failures,
        n_header=stats["tag_header"],
        n_footer=stats["tag_footer"],
        two_col=stats["mode"] == "2col",
        variant=variant,
    )
    return result, gated, final_blocks


def extract_turn(payload: str, enable_fuzzy: bool = True) -> ExtractResult:
    return extract_turn_blocks(payload, enable_fuzzy=enable_fuzzy)[0]


def layout_preservation(before: list[dict], after: list[dict]) -> float:
    """J7 (qa_pipeline_evaluator.py:400-419): each before-bbox matched to
    its best-IoU after-bbox; returns the mean best IoU (1.0 when there is
    nothing to match)."""
    from medical_ocr_pipeline_spark.core.geometry import iou

    if not before or not after:
        return 1.0
    best = [
        max(iou(b["bbox"], a["bbox"]) for a in after) for b in before
    ]
    return sum(best) / len(best)
