"""Per-turn line / paragraph grouping (the reference's signature operator).

Blocks are plain dicts: {"text", "confidence", "bbox", "source"}.

Reference parity (notebooks/01_extract_blocks.ipynb cell 4:321-372,
``regroup_lines``):
  - sort by (round(y0,1), round(x0,1));
  - line grouping: append to the current line while
    abs(b.y0 - prev.y0) <= line_gap where prev is the LAST block added
    (running chain, not the line anchor);
  - per line: x-sort, " "-join non-empty texts then strip, mean conf,
    min/max union bbox, "+"-joined sorted distinct sources;
  - paragraph grouping: append while abs(line.y0 - prev_line.y1) <=
    para_gap; same join/mean/union; paragraphs emitted in construction
    order (already y-ordered).

Documented deviation: the reference merges paragraph source tags via
``set(",".join(sources).split("+"))`` (cell 4:361) which leaves stray
commas inside tags; we split on both separators.
"""

from __future__ import annotations

import re

from medical_ocr_pipeline_spark.constants import LINE_JOIN_PX, PARA_JOIN_PX
from medical_ocr_pipeline_spark.core.geometry import union_bbox

Block = dict
_SRC_SPLIT = re.compile(r"[+,]")


def sort_key(b: Block) -> tuple:
    return (round(b["bbox"][1], 1), round(b["bbox"][0], 1))


def _merge(group: list[Block], x_sort: bool) -> Block:
    if x_sort:
        group = sorted(group, key=lambda x: x["bbox"][0])
    srcs: set[str] = set()
    for b in group:
        srcs.update(s for s in _SRC_SPLIT.split(b["source"]) if s)
    return {
        "text": " ".join(b["text"] for b in group if b["text"]).strip(),
        "confidence": sum(b.get("confidence", 1.0) for b in group) / len(group),
        "bbox": union_bbox([b["bbox"] for b in group]),
        "source": "+".join(sorted(srcs)),
    }


def _merge_one(b: Block) -> Block:
    """``_merge([b], x_sort)`` without the sort, the generator sum and
    ``union_bbox`` — most line and paragraph groups hold one block.  The
    confidence is ``(0 + c) / 1`` because ``sum`` starts from int 0 (so
    an int becomes a float and -0.0 becomes 0.0); the bbox is a fresh
    4-list, as ``union_bbox`` builds."""
    text = b["text"]
    bb = b["bbox"]
    return {
        "text": text.strip() if text else "",
        "confidence": (0 + b.get("confidence", 1.0)) / 1,
        "bbox": [bb[0], bb[1], bb[2], bb[3]],
        "source": "+".join(sorted({s for s in _SRC_SPLIT.split(b["source"]) if s})),
    }


def group_lines(blocks: list[Block], line_gap: float = LINE_JOIN_PX) -> list[Block]:
    """A1: merge word/fragment blocks into line blocks."""
    if not blocks:
        return []
    bs = sorted(blocks, key=sort_key)
    rows: list[list[Block]] = []
    cur: list[Block] = [bs[0]]
    for b in bs[1:]:
        if abs(b["bbox"][1] - cur[-1]["bbox"][1]) <= line_gap:
            cur.append(b)
        else:
            rows.append(cur)
            cur = [b]
    rows.append(cur)
    return [_merge_one(r[0]) if len(r) == 1 else _merge(r, x_sort=True) for r in rows]


def regroup_paragraphs(lines: list[Block], para_gap: float = PARA_JOIN_PX) -> list[Block]:
    """A2: merge line blocks into paragraph blocks on vertical gap."""
    if not lines:
        return []
    paras: list[list[Block]] = []
    cur: list[Block] = [lines[0]]
    for ln in lines[1:]:
        if abs(ln["bbox"][1] - cur[-1]["bbox"][3]) <= para_gap:
            cur.append(ln)
        else:
            paras.append(cur)
            cur = [ln]
    paras.append(cur)
    return [_merge_one(p[0]) if len(p) == 1 else _merge(p, x_sort=False) for p in paras]


def regroup_lines(blocks: list[Block], line_gap: float = LINE_JOIN_PX,
                  para_gap: float = PARA_JOIN_PX) -> list[Block]:
    """The reference's combined line+paragraph regroup."""
    return regroup_paragraphs(group_lines(blocks, line_gap), para_gap)
