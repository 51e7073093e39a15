"""Parity of the core's shortcut paths with the general computation:
identical-text pairs in J1 dedup skip difflib, and one-block line or
paragraph groups skip the general merge."""

import pytest

from medical_ocr_pipeline_spark.core import dedup_blocks
from medical_ocr_pipeline_spark.core.dedup_blocks import deduplicate, fuzz_ratio
from medical_ocr_pipeline_spark.core.geometry import iou
from medical_ocr_pipeline_spark.core.lineify import _merge, _merge_one
from medical_ocr_pipeline_spark.constants import DEDUP_IOU_THR, DEDUP_SIM_THR


def _reference_dedup(blocks):
    """J1 as the reference notebook states it: difflib on every pair."""
    ordered = sorted(blocks, key=lambda b: (-b.get("confidence", 1.0),
                                            len(b.get("text", ""))))
    kept = []
    for b in ordered:
        t = (b.get("text", "") or "").strip()
        if not t:
            continue
        if not any(iou(b["bbox"], k["bbox"]) >= DEDUP_IOU_THR
                   and fuzz_ratio(t.lower(), k["text"].lower()) >= DEDUP_SIM_THR
                   for k in kept):
            kept.append(b)
    kept.sort(key=lambda b: (round(b["bbox"][1], 1), round(b["bbox"][0], 1)))
    return kept


@pytest.mark.parametrize("text", ["a" * 300, "abc" * 100, "Dose 500 mg"])
@pytest.mark.parametrize("variant", [str.upper, str.title, lambda s: "  " + s + "\n"])
@pytest.mark.parametrize("variant_first", [False, True])
def test_dedup_identical_texts_match_reference(text, variant, variant_first):
    # the kept text is lowered but not stripped, so a padded kept block
    # is not identical to an unpadded candidate
    first, second = (variant(text), text) if variant_first else (text, variant(text))
    blocks = [
        {"text": first, "confidence": 0.9, "bbox": [0, 0, 100, 20], "source": "a"},
        {"text": second, "confidence": 0.8, "bbox": [1, 0, 100, 21], "source": "b"},
        {"text": text, "confidence": 0.7, "bbox": [0, 50, 100, 70], "source": "c"},
    ]
    assert fuzz_ratio(text.lower(), text.lower()) == 1.0
    assert deduplicate(blocks) == _reference_dedup(blocks)


def test_dedup_identical_texts_skip_difflib(monkeypatch):
    calls = []
    monkeypatch.setattr(dedup_blocks, "fuzz_ratio",
                        lambda a, b: calls.append((a, b)) or fuzz_ratio(a, b))
    blocks = [{"text": t, "confidence": c, "bbox": [0, 0, 100, 20], "source": "s"}
              for t, c in (("abc" * 100, 0.9), ("ABC" * 100, 0.8), ("abd" * 100, 0.7))]
    assert [b["confidence"] for b in deduplicate(blocks)] == [0.9, 0.7]
    assert calls == [("abd" * 100, "abc" * 100)]


@pytest.mark.parametrize("block", [
    {"text": "  two words ", "confidence": 0.9, "bbox": [1.5, 2, 30, 12], "source": "a+b,c"},
    {"text": "", "confidence": 0.5, "bbox": [0, 0, 1, 1], "source": "x"},
    {"text": "int conf", "confidence": 1, "bbox": (0, 0, 5, 5), "source": "b,,a+"},
    {"text": "no conf", "bbox": [3, 4, 5, 6], "source": "+"},
    {"text": "minus zero", "confidence": -0.0, "bbox": [0, 0, 2, 2], "source": "z"},
])
@pytest.mark.parametrize("x_sort", [True, False])
def test_singleton_merge_equals_general_merge(block, x_sort):
    # repr also tells 1 from 1.0 and -0.0 from 0.0, a tuple bbox from a list
    assert repr(_merge_one(block)) == repr(_merge([block], x_sort))
