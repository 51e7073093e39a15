"""J1: per-turn greedy spatial+fuzzy dedup of blocks.

Reference parity: notebooks/01_extract_blocks.ipynb cell 4:374-386 —
iterate blocks sorted by (-confidence, len(text)); drop empty-text blocks;
keep a block unless an already-kept block has IoU >= iou_thr AND fuzzy
similarity of the LOWERCASED texts >= sim_thr; finally re-sort by
(round(y0,1), round(x0,1)).  n per turn is tens, so the O(n^2) in-batch
loop is deliberate; greedy order-dependence means this must never be
distributed mid-group.
"""

from __future__ import annotations

import difflib

from medical_ocr_pipeline_spark.constants import (
    DEDUP_IOU_THR,
    DEDUP_SIM_THR,
    IOU_EPS,
)


def fuzz_ratio(a: str, b: str) -> float:
    """0..1 similarity; rapidfuzz in the reference (01_extract_blocks cell
    4:34-42) with difflib fallback — the sandbox has no rapidfuzz, so the
    difflib branch IS the deterministic behaviour."""
    return difflib.SequenceMatcher(None, a, b).ratio()


def deduplicate(blocks: list[dict],
                iou_thr: float = DEDUP_IOU_THR,
                sim_thr: float = DEDUP_SIM_THR) -> list[dict]:
    # Hot loop of the whole extraction pipeline (~quarter of core time):
    # per kept block we cache (bbox scalars, area, lowered UN-stripped
    # text, its length) so the inner pair test is pure local arithmetic —
    # the reference recomputes k["text"].lower() per pair.  Semantics are
    # bit-identical to the reference loop (same iou formula incl. the
    # 1e-6 union floor, same lower/strip asymmetry: candidate text is
    # stripped before lowering, kept text is not).
    ordered = sorted(
        blocks, key=lambda b: (-b.get("confidence", 1.0), len(b.get("text", "")))
    )
    kept: list[dict] = []
    meta: list[tuple] = []  # (x0, y0, x1, y1, area, kl, len_kl)
    for b in ordered:
        t = (b.get("text", "") or "").strip()
        if not t:
            continue
        tl = t.lower()
        ltl = len(tl)
        bb = b["bbox"]
        bx0, by0, bx1, by1 = bb[0], bb[1], bb[2], bb[3]
        area_b = (bx1 - bx0) * (by1 - by0)
        dup = False
        for kx0, ky0, kx1, ky1, area_k, kl, lkl in meta:
            iw = (bx1 if bx1 < kx1 else kx1) - (bx0 if bx0 > kx0 else kx0)
            if iw <= 0.0:
                continue
            ih = (by1 if by1 < ky1 else ky1) - (by0 if by0 > ky0 else ky0)
            if ih <= 0.0:
                continue
            inter = iw * ih
            union = area_b + area_k - inter
            if inter / (union if union > IOU_EPS else IOU_EPS) < iou_thr:
                continue
            # SequenceMatcher.ratio() <= 2*min(len)/(len_a+len_b): skip the
            # quadratic match when the length bound already rules out >= thr.
            # Identical texts need no match at all: their bound is 1.0 and
            # so is their ratio, at every length (autojunk only drops
            # popular characters from the index, and the longest match
            # found starts on the diagonal and extends over them), so
            # ``tl == kl`` decides the pair exactly as difflib would.
            denom = ltl + lkl
            bound = 2.0 * (ltl if ltl < lkl else lkl) / (denom if denom else 1)
            if bound >= sim_thr and (tl == kl or fuzz_ratio(tl, kl) >= sim_thr):
                dup = True
                break
        if not dup:
            kept.append(b)
            kl = b["text"].lower()
            meta.append((bx0, by0, bx1, by1, area_b, kl, len(kl)))
    kept.sort(key=lambda b: (round(b["bbox"][1], 1), round(b["bbox"][0], 1)))
    return kept
