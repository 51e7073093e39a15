"""02a segmentation: heading/gap-driven segment assembly (W4).

Reference parity (notebooks/02a_segment_general.ipynb cell 0:28-100):
  - is_heading (F12): section-keyword regex OR short ALL-CAPS phrase
    (3-24 letters);
  - same_para (W3): vertical gap <= GAP_Y=18 and next block not a heading;
  - segment_page: new segment on heading or large gap; soft join with
    bullet-aware newlines (F13).

Exact fast paths:
  - segment_turn tests each block for a heading once.  A block that
    reaches the paragraph test is not a heading, so of same_para only
    the gap test is left to run there.
  - is_heading answers False for ASCII text that is not str.isupper()
    before building the letters string.  For ASCII the cased characters
    are exactly A-Za-z, so the letters are upper iff the text is; a
    non-ASCII text can hold cased letters outside A-Za-z, so it takes
    the general test.
"""

from __future__ import annotations

import re

from medical_ocr_pipeline_spark.constants import SEGMENT_GAP_Y

HEAD_RX = re.compile(
    r"^(impression|diagnosis|microscopy|microscopic|gross|clinical details"
    r"|comment|plan|advice|assessment)\b[:\-]?",
    re.IGNORECASE,
)
BULLET_RX = re.compile(r"^(\-|\•|•|●|▪|▶|►|\d+\)|\d+\.)\s+")
_NON_ALPHA = re.compile(r"[^A-Za-z]")


def is_heading(t: str) -> bool:
    s = t.strip()
    # reference-exact quirk (02a cell 0:34-35): the length bail precedes
    # the letters test, so a CONTIGUOUS 3-letter acronym ("EKG") is NOT
    # a heading even though the ALL-CAPS rule below says 3-24 letters —
    # only separator-bearing forms ("E K G") reach it.  Kept as-is for
    # golden parity with the reference.
    if len(s) <= 3:
        return False
    if HEAD_RX.match(s):
        return True
    if s.isascii() and not s.isupper():
        return False
    letters = _NON_ALPHA.sub("", s)
    return 3 <= len(letters) <= 24 and letters.isupper()


def same_para(prev: dict, cur: dict, gap_y: float = SEGMENT_GAP_Y) -> bool:
    if is_heading(cur["text"]):
        return False
    return cur["bbox"][1] - prev["bbox"][3] <= gap_y


def segment_turn(blocks: list[dict], join_soft: bool = True) -> list[dict]:
    """Blocks (already in reading order) -> list of segments
    {title, items, bbox, text}."""
    segs: list[dict] = []
    cur: dict | None = None
    for b in blocks:
        txt = (b.get("text") or "").strip()
        if not txt:
            continue
        if is_heading(txt):
            if cur:
                segs.append(cur)
            cur = {"title": txt, "items": [b], "bbox": list(b["bbox"])}
            continue
        if cur is None:
            cur = {"title": None, "items": [b], "bbox": list(b["bbox"])}
        elif b["bbox"][1] - cur["items"][-1]["bbox"][3] <= SEGMENT_GAP_Y:
            cur["items"].append(b)
            x0, y0, x1, y1 = cur["bbox"]
            bx0, by0, bx1, by1 = b["bbox"]
            cur["bbox"] = [min(x0, bx0), min(y0, by0), max(x1, bx1), max(y1, by1)]
        else:
            segs.append(cur)
            cur = {"title": None, "items": [b], "bbox": list(b["bbox"])}
    if cur:
        segs.append(cur)

    for s in segs:
        lines = [i["text"].strip() for i in s["items"] if i.get("text")]
        if join_soft:
            parts: list[str] = []
            for ln in lines:
                if BULLET_RX.match(ln):
                    parts.append("\n" + ln)
                else:
                    parts.append((" " if parts else "") + ln)
            s["text"] = "".join(parts).strip()
        else:
            s["text"] = "\n".join(lines).strip()
    return segs
