"""03-stage deterministic text selection: cleanup eligibility (P9) and
candidate choice with digit preservation (F7/F8).

Reference parity (notebooks/03_llm_cleanup.ipynb cell 5):
  - should_cleanup: noisy-token list, OCR-ish regexes
    ([A-Za-z]\\d[A-Za-z], [l1I]{3,}, [.,;:]{3,}), short-unpunctuated rule;
  - digits_pattern (F7): \\d+(?:\\.\\d+)? findall — numbers must survive;
  - choose_text (F8): candidates scored by (digits_preserved,
    round(similarity - length_penalty, 4)), max wins; Python max() keeps
    the FIRST of tied candidates (orig < 02a < llm order).

The LLM itself is excluded per the north rule; the deterministic rules+
dictionary+fuzzy output plays the cleaned-candidate role.

Exact fast path: select_final takes a cleaned text equal to the original
at once (its digits are the same and its length ratio is 1), which is
the common case, without the digit scan.  It needs no ASCII gate.
"""

from __future__ import annotations

import difflib
import re

_NOISY = ["@@", "##", "| |", "¢", "§", "�", "~~", "==", "… …", "||", "— —"]
_OCRISH = re.compile(r"[A-Za-z]\d[A-Za-z]|\b[l1I]{3,}\b|[.,;:]{3,}")
_SENT_END = re.compile(r"[.!?]$")
_DIGITS = re.compile(r"\d+(?:\.\d+)?")


def should_cleanup(t: str) -> bool:
    if not t or not t.strip():
        return False
    t = t.strip()
    if any(x in t for x in _NOISY):
        return True
    if _OCRISH.search(t):
        return True
    if len(t) < 25 and not _SENT_END.search(t):
        return True
    return False


def digits_pattern(s: str) -> list[str]:
    return _DIGITS.findall(s or "")


def choose_text(orig: str, cleaned: str | None,
                enhanced: str | None = None) -> tuple[str, str]:
    """Returns (label, text) of the best candidate."""
    candidates: list[tuple[str, str]] = [("orig", orig)]
    if cleaned and cleaned.strip():
        candidates.append(("02a", cleaned))
    if enhanced and enhanced.strip():
        candidates.append(("llm", enhanced))
    base = orig or ""

    def score(v: str):
        sim = difflib.SequenceMatcher(None, base, v).ratio()
        nums_ok = digits_pattern(base) == digits_pattern(v)
        len_ratio = (len(v) + 1) / (len(base) + 1) if base else 1.0
        len_penalty = 0.0 if 0.5 <= len_ratio <= 1.5 else 0.1
        return (nums_ok, round(sim - len_penalty, 4))

    # NOTE: because base == orig, orig always scores (True, 1.0) and max()
    # keeps the first of tied candidates — the reference therefore always
    # returns "orig".  Kept verbatim for parity; our engine's actual
    # selection is select_final below.
    return max(candidates, key=lambda kv: score(kv[1]))


def select_final(orig: str, cleaned: str) -> tuple[str, str]:
    """Deterministic replacement for the reference's degenerate selection:
    take the cleaned text iff it preserves every number (F7 digit guard)
    and stays within the 0.5-1.5 length band (F8 length penalty intent);
    otherwise keep the original.  Returns (label, text)."""
    if not cleaned or not cleaned.strip():
        return ("orig", orig)
    if cleaned == orig:
        return ("02a", cleaned)
    if digits_pattern(orig) != digits_pattern(cleaned):
        return ("orig", orig)
    len_ratio = (len(cleaned) + 1) / (len(orig) + 1)
    if not 0.5 <= len_ratio <= 1.5:
        return ("orig", orig)
    return ("02a", cleaned)
