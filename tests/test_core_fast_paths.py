"""Parity of the core's shortcut paths with the general computation:
identical-text pairs in J1 dedup skip difflib, one-block line or
paragraph groups skip the general merge, and segment_turn tests each
block for a heading once.  The cleanup-tail and layout-parse
differentials are Hypothesis tests in test_fuzz_core.py."""

import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from medical_ocr_pipeline_spark.core import dedup_blocks, segment, textnorm
from medical_ocr_pipeline_spark.core.dedup_blocks import deduplicate, fuzz_ratio
from medical_ocr_pipeline_spark.core.extract import extract_turn
from medical_ocr_pipeline_spark.core.geometry import iou
from medical_ocr_pipeline_spark.core.lineify import _merge, _merge_one
from medical_ocr_pipeline_spark.core.segment import BULLET_RX, is_heading, same_para, segment_turn
from medical_ocr_pipeline_spark.core.textnorm import apply_dictionary
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


def test_regex_whitespace_is_str_isspace():
    # apply_rules collapses with str.split instead of \s+ and strip: all
    # three must see the same whitespace at every code point
    chars = [chr(c) for c in range(sys.maxunicode + 1)]
    assert ({c for c in chars if textnorm._WS_RE.match(c)}
            == {c for c in chars if c.isspace()})


@pytest.mark.parametrize("text, want", [
    ("Necroſls", ("Necrosis", 1)),
    ("lnflammatİon", ("inflammation", 1)),
    ("NECROSLS and \u212aidney tumour", ("NECROSIS and \u212aidney tumor", 2)),
])
def test_dictionary_case_folded_keys(text, want):
    # re.IGNORECASE matches 'ſ' for 's' and 'İ' for 'i'; the lowered
    # match is then no dictionary key, and the replacement must come
    # from the key that matched
    assert apply_dictionary(text) == want


def test_extract_survives_case_folded_dictionary_key():
    r = extract_turn("Necroſls noted in the sample today.")
    assert r.text_final == "Necrosis noted in the sample today."


def _reference_segment_turn(blocks, join_soft=True):
    """segment_turn with same_para re-testing the heading."""
    segs = []
    cur = None
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
        elif same_para(cur["items"][-1], b):
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
            parts = []
            for ln in lines:
                if BULLET_RX.match(ln):
                    parts.append("\n" + ln)
                else:
                    parts.append((" " if parts else "") + ln)
            s["text"] = "".join(parts).strip()
        else:
            s["text"] = "\n".join(lines).strip()
    return segs


_seg_block = st.builds(
    lambda text, y0, h, x0: {"text": text, "bbox": [x0, y0, x0 + 50, y0 + h]},
    st.sampled_from(["", "  ", "IMPRESSION: clear", "CLINICAL SUMMARY", "EKG",
                     "some findings here", "- bullet item", "2) second", "Plan",
                     "ABCé", " mixed Case text "]),
    st.floats(0, 300), st.floats(0, 40), st.floats(0, 200))


@settings(max_examples=300, deadline=None)
@given(st.lists(_seg_block, max_size=12), st.booleans())
def test_segment_turn_matches_same_para_reference(blocks, join_soft):
    assert (repr(segment_turn(blocks, join_soft))
            == repr(_reference_segment_turn(blocks, join_soft)))


def test_segment_turn_tests_each_block_for_heading_once(monkeypatch):
    calls = []
    monkeypatch.setattr(segment, "is_heading",
                        lambda t: calls.append(t) or is_heading(t))
    blocks = [{"text": t, "bbox": [0, y, 100, y + 10]} for t, y in (
        ("IMPRESSION: clear", 0), ("first line", 12), ("", 20), ("second line", 24),
        ("far below", 200), ("  ", 210), ("CLINICAL SUMMARY", 220), ("tail", 232))]
    segs = segment_turn(blocks)
    assert [s["title"] for s in segs] == ["IMPRESSION: clear", None, "CLINICAL SUMMARY"]
    assert calls == [b["text"].strip() for b in blocks if b["text"].strip()]
