"""Pure-Python text normalization / scoring shared by oracle and Spark UDFs.

Reference parity:
  - apply_rules: notebooks/02_domain_cleanup.ipynb cell 0:93-98
  - strip_markup: notebooks/01_qa_pipeline_evaluation.ipynb cell 5
  - dictionary join: notebooks/02_cleanup_blocks.ipynb cell 4:36-50
  - fuzzy vocab join: notebooks/02_cleanup_blocks.ipynb cell 4:52-71
  - seq similarity: notebooks/02_domain_cleanup.ipynb cell 0:90-91
  - digits fingerprint: notebooks/03_llm_cleanup.ipynb cell 5:13-14
  - lang tag: notebooks/03_llm_cleanup.ipynb cell 4:3-6

Exact fast paths.  Each returns what the general path returns.  The
cheap tests are gated on ASCII text, because only there do they agree
with the regexes at every input:
  - apply_rules skips the bullet/dash/x passes on ASCII text (none of
    those characters is ASCII).  Its whitespace collapse needs no gate:
    str.split splits on the same str.isspace set that \\s and
    str.strip use.
  - apply_dictionary returns early on ASCII text that holds no key as
    a substring of its lowered form.  Non-ASCII text keeps the regex:
    re.IGNORECASE folds U+017F, U+212A and U+0130 onto ASCII letters,
    which a substring test cannot see.
  - apply_fuzzy looks the lowered ASCII tokens up first and returns
    early when none has a fix.  ASCII lower() keeps lengths and the
    token class is case-symmetric, so the tokens and the order of memo
    lookups are those of the general loop.
"""

from __future__ import annotations

import difflib
import re

from medical_ocr_pipeline_spark.constants import (
    DICTIONARY,
    DO_NOT_TOUCH,
    FUZZY_CUTOFF,
    FUZZY_MIN_TOKEN_LEN,
    MAX_CORRECTIONS,
    STOPWORDS,
    VOCAB_SEED,
)

_BULLET_RE = re.compile(r"[•·∙●]")
_DASH_RE = re.compile(r"[–—−]+")
_MULT_RE = re.compile(r"[×✕✖]")
_WS_RE = re.compile(r"\s+")
_TAG_RE = re.compile(r"<[^>]+>")
_BR_RE = re.compile(r"<br\s*/?>", re.IGNORECASE)
_DIGITS_RE = re.compile(r"\d+(?:\.\d+)?")
_WORD_RE = re.compile(r"[^A-Za-z0-9]+")
_FUZZY_TOKEN_RE = re.compile(r"[A-Za-z][A-Za-z\-]{3,}")
_DEVANAGARI_RE = re.compile(r"[ऀ-ॿ]")
_TELUGU_RE = re.compile(r"[ఀ-౿]")

VOCAB = sorted(set(DICTIONARY.values()) | set(VOCAB_SEED))


def apply_rules(text: str) -> str:
    """Unicode bullet/dash/× normalization + whitespace collapse + trim."""
    t = text
    if not t.isascii():
        t = _BULLET_RE.sub(".", t)
        t = _DASH_RE.sub("-", t)
        t = _MULT_RE.sub("x", t)
    return " ".join(t.split())


def strip_markup(text: str) -> str:
    """<br> -> space, then any <tag> -> space, collapse whitespace."""
    t = _BR_RE.sub(" ", text)
    t = _TAG_RE.sub(" ", t)
    return _WS_RE.sub(" ", t).strip()


# longest-key-first deterministic order (02_cleanup_blocks cell 4:44);
# compiled as ONE alternation so every block costs one regex pass — the
# alternation order preserves longest-key-first precedence, and since no
# replacement value is itself a dictionary key, the single pass is
# equivalent to the reference's sequential per-key passes.  Each key has
# its own group, so the replacement comes from the key that matched:
# re.IGNORECASE matches 'ſ' for 's' and 'İ' for 'i', so the lowered
# match text need not be a key.
_DICT_ITEMS = sorted(DICTIONARY.items(), key=lambda kv: (-len(kv[0]), kv[0]))
_DICT_KEYS = tuple(k for k, _ in _DICT_ITEMS)
_DICT_RE = re.compile(
    r"\b(?:%s)\b" % "|".join("(%s)" % re.escape(k) for k in _DICT_KEYS),
    re.IGNORECASE,
)


def _match_case(repl: str, src: str) -> str:
    """Replacement takes UPPER / Title / lower case of the source token."""
    if src.isupper():
        return repl.upper()
    if src[:1].isupper():
        return repl.capitalize()
    return repl


def apply_dictionary(text: str) -> tuple[str, int]:
    """Word-boundary, case-aware dictionary correction. Returns (text, n)."""
    if text.isascii():
        low = text.lower()
        if not any(k in low for k in _DICT_KEYS):
            return text, 0
    n = 0

    def _sub(m):
        nonlocal n
        n += 1
        return _match_case(_DICT_ITEMS[m.lastindex - 1][1], m.group(0))

    text = _DICT_RE.sub(_sub, text)
    return text, n


# Executor-global memo: fuzzy lookup is a pure function of (lowered
# token, cutoff) — VOCAB is a constant — so caching across turns/batches
# cannot change results, it only removes repeated difflib work.  The
# cutoff is PART OF THE KEY: a token-only key would silently serve one
# cutoff's verdict to callers using another.  Bounded to keep long-lived
# python workers from growing without limit.
_FUZZY_MEMO: dict[tuple[str, float], str | None] = {}
_FUZZY_MEMO_MAX = 262_144
_MISS = object()


def _fuzzy_lookup(low: str, cutoff: float) -> str | None:
    key = (low, cutoff)
    if key in _FUZZY_MEMO:
        return _FUZZY_MEMO[key]
    if (
        len(low) < FUZZY_MIN_TOKEN_LEN
        or low in STOPWORDS
        or low in DO_NOT_TOUCH
        or low in VOCAB
    ):
        fix = None
    else:
        matches = difflib.get_close_matches(low, VOCAB, n=1, cutoff=cutoff)
        fix = matches[0] if matches else None
    if len(_FUZZY_MEMO) < _FUZZY_MEMO_MAX:
        _FUZZY_MEMO[key] = fix
    return fix


def apply_fuzzy(text: str, cutoff: float = FUZZY_CUTOFF,
                max_corrections: int = MAX_CORRECTIONS) -> tuple[str, int]:
    """difflib close-match correction of unique long tokens against VOCAB.

    Tokens considered: [A-Za-z][A-Za-z\\-]{3,}, minus stopwords,
    DO_NOT_TOUCH, and exact vocab members.  Deterministic order: first
    occurrence in text.  Cap at max_corrections.
    """
    if text.isascii():
        for low in _FUZZY_TOKEN_RE.findall(text.lower()):
            fix = _FUZZY_MEMO.get((low, cutoff), _MISS)
            if fix is _MISS:
                fix = _fuzzy_lookup(low, cutoff)
            if fix is not None:
                break
        else:
            return text, 0
    n = 0
    out: list[str] = []
    last = 0
    for m in _FUZZY_TOKEN_RE.finditer(text):
        tok = m.group(0)
        fix = _fuzzy_lookup(tok.lower(), cutoff)
        if fix is not None and n < max_corrections:
            out.append(text[last:m.start()])
            out.append(_match_case(fix, tok))
            last = m.end()
            n += 1
    out.append(text[last:])
    return "".join(out), n


def seq_sim(a: str, b: str) -> float:
    """difflib.SequenceMatcher ratio on whitespace-normalized text."""
    a2 = _WS_RE.sub(" ", a).strip()
    b2 = _WS_RE.sub(" ", b).strip()
    return difflib.SequenceMatcher(None, a2, b2).ratio()


def digits_fingerprint(text: str) -> list[str]:
    return _DIGITS_RE.findall(text)


def word_tokens(text: str) -> list[str]:
    """Split on non-alphanumerics, lowercase, drop empties."""
    return [w for w in _WORD_RE.split(text.lower()) if w]


def detect_lang_tag(text: str) -> str:
    if _DEVANAGARI_RE.search(text):
        return "hi"
    if _TELUGU_RE.search(text):
        return "te"
    return "en"
