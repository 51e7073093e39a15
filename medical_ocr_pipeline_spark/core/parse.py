"""Payload parsers: turn text payload -> list of raw blocks.

The reference's 13 OCR micro-services each turn an image into the same
block shape ({"text", "confidence", "bbox", "source"}); per the north
rule those service-bound steps become deterministic in-process extractor
functions over the transcript `text` payload.  Four payload families
mirror the engine-input diversity (FIXTURES.md §1):

  1. HTML-ish        -> boilerplate strip via a DOM walk with
                        jusText/Readability-style link-density scoring;
                        payloads in a strict tag-soup subset are
                        tokenized by one regex pass, the rest by the
                        stdlib HTMLParser (see _MainContentParser)
  2. layout-blocks   -> "x0,y0,x1,y1,conf,source|text" lines (bbox path)
  3. JSON-fenced     -> fence strip + light repair + parse (F3)
  4. plain text      -> line split + synthetic stacked bboxes (F21)

Reference parity:
  - synthetic bbox stacking: mcp/mcp_ocr_qwen.py:49-81 (img_h // n slices,
    fixed confidence)
  - fence strip / light repair: notebooks/04_json_extraction.ipynb
    cell 2:84-108, mcp/mcp_ocr_docling.py:74-95
  - tag strip seed: notebooks/01_blocks_all_mcp_compare.ipynb cell 1:188
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser

from medical_ocr_pipeline_spark.constants import PAGE_H, PAGE_W
from medical_ocr_pipeline_spark.core.geometry import clamp_bbox, coerce_bbox, norm_conf

_LAYOUT_LINE_RE = re.compile(
    r"^\s*(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),"
    r"(-?\d+(?:\.\d+)?),([A-Za-z0-9_\-]+)\|(.*)$"
)
_FENCE_RE = re.compile(r"```(?:json|JSON)?\s*|\s*```")
_TRAILING_COMMA_RE = re.compile(r",\s*([}\]])")
_HTML_SNIFF_RE = re.compile(r"<\s*(?:!doctype|html|head|body|div|p|nav|span)\b",
                            re.IGNORECASE)

# elements whose entire subtree is boilerplate (jusText-style bad containers)
_DROP_SUBTREE = {"script", "style", "head", "nav", "footer", "aside", "noscript",
                 "header", "form", "button", "iframe", "svg", "template"}
# elements that delimit candidate text blocks
_BLOCK_ELEMS = {"p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td",
                "th", "article", "section", "main", "blockquote", "pre", "tr",
                "ul", "ol", "table", "body"}
_LINK_DENSITY_MAX = 0.5
_MIN_BLOCK_CHARS = 3
_WS_RE = re.compile(r"\s+")

# The fast-path grammar: a subset of markup that HTMLParser tokenizes
# into exactly these events.  Tokens (one capture group is set per
# alternative, so ``lastindex`` names the kind):
#   1  text without '<' or '&' (no charrefs to convert)
#   2  start tag: ASCII name, double-quoted attribute values without
#      '<' or '&', no '/>'
#   3  end tag: ASCII name
#   4+ a raw-text element (script/style, and title/textarea on Python
#      versions whose HTMLParser reads those raw too) as one unit with
#      a body free of '<' and '&' — HTMLParser reads their body as
#      text, so a generic start tag must never match them
# Whitespace inside tags is the ASCII set that ends a tag name in
# HTMLParser.  Comments, declarations, '<?', '&' and self-closing tags
# fall outside it.  Every quantifier is possessive and the guard runs
# with fullmatch, so a rejected payload costs one linear scan.
_RAW_TEXT_ELEMS = tuple(HTMLParser.CDATA_CONTENT_ELEMENTS) + tuple(
    getattr(HTMLParser, "RCDATA_CONTENT_ELEMENTS", ()))
_TAG_WS = r"[ \t\n\r\f]"
_TAG_END = rf'(?:{_TAG_WS}++[a-zA-Z_:][-a-zA-Z0-9_:.]*+="[^"<&]*+")*+{_TAG_WS}*+>'


def _html_token(g: str) -> str:
    """The token alternation; ``g`` opens each token's group — "(" for
    the tokenizer, "(?:" for the guard (Python 3.11's re raises
    SystemError on a capturing group inside a possessive repeat)."""
    raw = "|".join(_RAW_TEXT_ELEMS)
    return "|".join(
        [rf"{g}[^<&]++)",
         rf"<(?!(?i:{raw})[ \t\n\r\f>]){g}[a-zA-Z][a-zA-Z0-9]*+){_TAG_END}",
         rf"</{g}[a-zA-Z][a-zA-Z0-9]*+){_TAG_WS}*+>"]
        + [rf"<(?i:{e}){_TAG_END}{g}[^<&]*+)</(?i:{e}){_TAG_WS}*+>"
           for e in _RAW_TEXT_ELEMS])


_HTML_TOKEN_RE = re.compile(_html_token("("))
_HTML_GUARD_RE = re.compile(rf"(?:{_html_token('(?:')})*+")


class _MainContentParser(HTMLParser):
    """Single-pass DOM walk collecting block-level text runs with per-run
    link-character counts (the jusText link-density heuristic, re-expressed
    without an external DOM library so it can run inside Arrow batches)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # (text, chars, link_chars, line_first, line_last, col_first,
        # col_end) — 0-based payload lines/columns of the block's first
        # and last text chunks (getpos while buffering), used by the
        # ensemble's line-anchored coordinate system; parse_html ignores
        # them.  col_end is approximate when charref conversion shortens
        # a chunk — the ensemble only needs ordering and overlap, not
        # exact glyph extents.
        self.blocks: list[tuple[str, int, int, int, int, int, int]] = []
        self._drop_depth = 0
        self._link_depth = 0
        self._buf: list[str] = []
        self._link_chars = 0
        self._block_line = 0
        self._block_line_last = 0
        self._block_col = 0
        self._block_col_end = 0

    def _flush(self) -> None:
        raw = "".join(self._buf)
        text = _WS_RE.sub(" ", raw).strip()
        if len(text) >= _MIN_BLOCK_CHARS:
            self.blocks.append((text, len(text), self._link_chars,
                                self._block_line, self._block_line_last,
                                self._block_col, self._block_col_end))
        self._buf = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_SUBTREE:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_ELEMS or tag == "br":
            self._flush()

    def handle_endtag(self, tag):
        if tag in _DROP_SUBTREE:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_ELEMS:
            self._flush()

    def handle_data(self, data):
        if self._drop_depth:
            return
        if data.strip():
            line0, col0 = self.getpos()
            line0 -= 1  # 0-based line where chunk starts
            # a chunk may itself span lines: attribute first/last text to
            # the first/last non-blank segment
            segs = data.splitlines()
            txt_idx = [i for i, s in enumerate(segs) if s.strip()]
            if not "".join(self._buf).strip():
                self._block_line = line0 + txt_idx[0]  # first text of block
                first = segs[txt_idx[0]]
                lead = len(first) - len(first.lstrip())
                self._block_col = (col0 if txt_idx[0] == 0 else 0) + lead
            self._block_line_last = line0 + txt_idx[-1]
            last = segs[txt_idx[-1]]
            self._block_col_end = (
                col0 + len(data) if len(segs) == 1
                else len(last.rstrip())
            )
        self._buf.append(data)
        if self._link_depth:
            self._link_chars += len(data.strip())

    def close(self):
        super().close()
        self._flush()

    def feed_guarded(self, payload: str) -> bool:
        """Parse a whole payload with one regex pass, calling the same
        handlers ``feed`` + ``close`` would, when it lies in the fast-path
        grammar above; return False, with nothing parsed, when it does
        not.  Source positions are not tracked (``getpos`` stays at the
        start), so only the text fields of ``blocks`` are meaningful."""
        if _HTML_GUARD_RE.fullmatch(payload) is None:
            return False
        start, end, data = self.handle_starttag, self.handle_endtag, self.handle_data
        for m in _HTML_TOKEN_RE.finditer(payload):
            kind = m.lastindex
            if kind == 1:
                data(m[1])
            elif kind == 2:
                start(m[2].lower(), [])
            elif kind == 3:
                end(m[3].lower())
            else:
                tag = _RAW_TEXT_ELEMS[kind - 4]
                start(tag, [])
                if m[kind]:
                    data(m[kind])
                end(tag)
        self._flush()
        return True


def _stacked_blocks(lines: list[str], source: str, conf: float,
                    page_h: float = PAGE_H) -> list[dict]:
    """F21: distribute n text lines evenly down the page (img_h // n slices)."""
    n = len(lines)
    if n == 0:
        return []
    slice_h = page_h / n
    out = []
    for i, text in enumerate(lines):
        y0 = i * slice_h
        out.append({
            "text": text,
            "confidence": conf,
            "bbox": [0.0, y0, PAGE_W, min(page_h, y0 + slice_h)],
            "source": source,
        })
    return out


def _line_anchored_blocks(pairs: list[tuple[int, str]], total_lines: int,
                          source: str, conf: float,
                          page_h: float = PAGE_H) -> list[dict]:
    """Ensemble coordinate system: each text block is anchored to its
    0-based PAYLOAD line index over the payload's total line count, so
    every engine that read the same payload places the same content at
    the same synthetic coordinates — J1's IoU test then absorbs
    cross-engine overlap exactly as it absorbs cross-OCR overlap on the
    reference's real page coordinates."""
    if not pairs or total_lines <= 0:
        return []
    slice_h = page_h / total_lines
    out = []
    for idx, text in pairs:
        i = min(max(idx, 0), total_lines - 1)
        y0 = i * slice_h
        out.append({
            "text": text,
            "confidence": conf,
            "bbox": [0.0, y0, PAGE_W, min(page_h, y0 + slice_h)],
            "source": source,
        })
    return out


def parse_html(payload: str) -> list[dict]:
    """Boilerplate-stripped main-content blocks with link-density gating.

    A payload in the fast-path grammar (plain tags with double-quoted
    attributes, text without '<' or '&', script/style bodies without
    tags) is tokenized by ``feed_guarded``; anything else falls back to
    HTMLParser's ``feed``.  Both drive the same handlers, so the blocks
    are the same either way."""
    p = _MainContentParser()
    if not p.feed_guarded(payload):
        try:
            p.feed(payload)
            p.close()
        except Exception:
            pass
    kept = []
    for text, chars, link_chars, *_pos in p.blocks:
        density = link_chars / chars if chars else 1.0
        if density <= _LINK_DENSITY_MAX:
            kept.append(text)
    return _stacked_blocks(kept, "html", 0.95)


def parse_html_anchored(payload: str) -> list[dict]:
    """Ensemble-mode html engine: same DOM walk and link-density gate as
    parse_html, but each block's bbox spans its FULL source-line range
    (first..last text line) in the shared line-slice coordinate system —
    a paragraph written across n payload lines overlaps every one of the
    heavy engine's per-line blocks for those lines, so the ensemble's
    containment dedup (core/ensemble.py) can absorb the per-line copies.
    Anchoring only to the first line (the round-3 original) left lines
    2..n of a multi-line block spatially disjoint from the heavy copies
    and duplicated the content in text_final."""
    p = _MainContentParser()
    try:
        p.feed(payload)
        p.close()
    except Exception:
        pass
    lines = payload.splitlines()
    total = len(lines)
    if total <= 0:
        return []
    slice_h = PAGE_H / total
    out = []
    for text, chars, link_chars, first, last, col0, col1 in p.blocks:
        density = link_chars / chars if chars else 1.0
        if density > _LINK_DENSITY_MAX:
            continue
        i0 = min(max(first, 0), total - 1)
        i1 = min(max(last, i0), total - 1)
        # single-line blocks get column-proportional x extents so several
        # blocks sharing one source line (minified markup) keep document
        # order under the final (y, x) spatial sort and stay spatially
        # disjoint from EACH OTHER while still overlapping the heavy
        # engine's full-width copy of the line; multi-line blocks own
        # their lines and span the full width
        x0, x1 = 0.0, PAGE_W
        if i0 == i1:
            ll = max(len(lines[i0]), 1)
            x0 = min(max(col0, 0), ll) / ll * PAGE_W
            x1 = min(max(col1, col0 + 1), ll) / ll * PAGE_W
            if x1 <= x0:
                x1 = min(PAGE_W, x0 + 1.0)
        out.append({
            "text": text,
            "confidence": 0.95,
            "bbox": [x0, i0 * slice_h, x1,
                     min(PAGE_H, (i1 + 1) * slice_h)],
            "source": "html",
        })
    return out


def parse_plain_anchored(payload: str) -> list[dict]:
    """Ensemble-mode plain engine: non-empty lines at their payload line
    index (vs parse_plain's output-index stacking)."""
    lines = payload.splitlines()
    pairs = [(i, ln.strip()) for i, ln in enumerate(lines) if ln.strip()]
    return _line_anchored_blocks(pairs, len(lines), "native", 0.98)


def strip_fences(payload: str) -> str:
    return _FENCE_RE.sub("", payload).strip()


def light_repair(payload: str) -> str:
    """Drop trailing commas; cut to the first '{' or '['."""
    t = _TRAILING_COMMA_RE.sub(r"\1", payload)
    starts = [i for i in (t.find("{"), t.find("[")) if i >= 0]
    if starts:
        t = t[min(starts):]
    return t.strip()


def _json_strings(obj, out: list[str]) -> None:
    """Collect string leaves in deterministic traversal order."""
    if isinstance(obj, str):
        s = obj.strip()
        if s:
            out.append(s)
    elif isinstance(obj, dict):
        for k in obj:  # JSON object order = document order (deterministic)
            _json_strings(obj[k], out)
    elif isinstance(obj, list):
        for v in obj:
            _json_strings(v, out)


# engine-response envelope sniffing (reference: generic MCP response keys
# blocks/lines/results/predictions/preds/data, 01_blocks_all_mcp_compare
# cell 1:181-200; wrapper keys result/document/data then candidate arrays,
# mcp/mcp_ocr_docling.py:183-215)
_CANDIDATE_KEYS = ("blocks", "lines", "results", "predictions", "preds", "data")
_WRAPPER_KEYS = ("result", "document", "data")


def _harvest_block_records(obj) -> list[dict] | None:
    """If the parsed JSON looks like an OCR-engine response envelope,
    coerce its records into canonical blocks (F17 bbox + F18 conf)."""
    if not isinstance(obj, dict):
        return None
    for wk in _WRAPPER_KEYS:
        if isinstance(obj.get(wk), dict):
            inner = _harvest_block_records(obj[wk])
            if inner:
                return inner
    for key in _CANDIDATE_KEYS:
        cand = obj.get(key)
        if not (
            isinstance(cand, list)
            and cand
            and all(isinstance(e, dict) and "text" in e for e in cand)
        ):
            continue
        blocks = []
        for e in cand:
            text = str(e.get("text") or "").strip()
            if not text:
                continue
            bbox = clamp_bbox(coerce_bbox(e.get("bbox")))
            blocks.append({
                "text": text,
                "confidence": norm_conf(e.get("confidence", e.get("conf"))),
                "bbox": bbox,
                "source": str(obj.get("engine") or e.get("source") or "json_engine"),
            })
        if blocks:
            return blocks
    return None


def parse_json_fenced(payload: str) -> tuple[list[dict], int]:
    """F3: fence strip + light repair + parse.  Returns (blocks, failures)."""
    stripped = strip_fences(payload)
    for candidate in (stripped, light_repair(stripped)):
        try:
            obj = json.loads(candidate)
        except (json.JSONDecodeError, ValueError):
            continue
        harvested = _harvest_block_records(obj)
        if harvested is not None:
            return harvested, 0
        leaves: list[str] = []
        _json_strings(obj, leaves)
        return _stacked_blocks(leaves, "json", 0.98), 0
    # unparseable: fall back to fence-stripped raw lines, count the failure
    lines = [ln.strip() for ln in stripped.splitlines() if ln.strip()]
    return _stacked_blocks(lines, "json_raw", 0.60), 1


def parse_layout(payload: str) -> tuple[list[dict], int]:
    """Layout-block lines 'x0,y0,x1,y1,conf,source|text'. Bad lines counted."""
    blocks: list[dict] = []
    failures = 0
    for ln in payload.splitlines():
        if not ln.strip():
            continue
        m = _LAYOUT_LINE_RE.match(ln)
        if not m:
            failures += 1
            continue
        # the regex admits only numbers, so the four coordinates go
        # straight to the clamp: coerce_bbox of four floats is a copy
        g = m.groups()
        blocks.append({
            "text": g[6].strip(),
            "confidence": norm_conf(g[4]),
            "bbox": clamp_bbox([float(g[0]), float(g[1]), float(g[2]), float(g[3])]),
            "source": g[5],
        })
    return blocks, failures


def parse_plain(payload: str) -> list[dict]:
    lines = [ln.strip() for ln in payload.splitlines() if ln.strip()]
    return _stacked_blocks(lines, "native", 0.98)


def detect_variant(payload: str) -> str:
    s = payload.lstrip()
    if _HTML_SNIFF_RE.search(s[:200]):
        return "html"
    if s.startswith("```") or (s[:1] in "{[" and s.rstrip()[-1:] in "}]"):
        return "json"
    first = s.split("\n", 1)[0]
    if _LAYOUT_LINE_RE.match(first):
        return "layout"
    return "plain"


def parse_payload(payload: str) -> tuple[list[dict], str, int]:
    """Dispatch on sniffed variant -> (raw blocks, variant, parse_failures)."""
    if payload is None or not payload.strip():
        return [], "empty", 0
    variant = detect_variant(payload)
    if variant == "html":
        return parse_html(payload), variant, 0
    if variant == "json":
        blocks, failures = parse_json_fenced(payload)
        return blocks, variant, failures
    if variant == "layout":
        blocks, failures = parse_layout(payload)
        return blocks, variant, failures
    return parse_plain(payload), variant, 0


# --- two-pass escalation (P4/P12/J9 analogues) ------------------------------
# Reference: cheap native pass first; heavy OCR only for pages failing the
# gate (01_extract_blocks cell 1:35-38, cell 2:21-24, cell 4:447-450).
# Our payload analogue: if the structured parse yields little text, run the
# plain-line fallback extractor over the raw payload as the "heavy" second
# pass and union it in; the native-strength gate keeps the primary blocks
# only when they carry enough characters.

ESCALATION_MIN_CHARS = 200   # need_escalation: native < 200 chars
NATIVE_LEN_GATE_CHARS = 100  # native_len_gate (cell 1:45)


def need_escalation(blocks: list[dict]) -> bool:
    """P12: too little extracted text -> run the heavy second pass."""
    total = sum(len(b["text"]) for b in blocks)
    if total >= ESCALATION_MIN_CHARS:
        return False
    if not blocks:
        return True
    # total < ESCALATION_MIN_CHARS is already guaranteed by the early
    # return above — only the secondary conditions remain to check
    mean_conf = sum(b["confidence"] for b in blocks) / len(blocks)
    return mean_conf < 0.70 or len(blocks) < 10


HEAVY_CONF = 0.60


def heavy_strip_blocks(payload: str) -> list[dict]:
    """The 'heavy engine' pass over the raw payload: markup and fences
    stripped first so tag soup never re-enters, then the plain-line
    extractor.  Used by two-pass escalation (below); the k-way ensemble
    uses heavy_strip_blocks_anchored, which is NOT output-identical:
    the anchored variant drops whole fence-marker lines (its
    _FENCE_LINE_RE skips '```python code' entirely, while strip_fences
    here keeps 'python code') and collapses whitespace per line — a
    change to one variant does not propagate to the other."""
    defenced = strip_fences(payload)
    # strip tags line-by-line (keeping newlines so parse_plain still sees
    # line structure)
    stripped = "\n".join(
        re.sub(r"<[^>]+>", " ", ln) for ln in defenced.splitlines()
    )
    return [
        {**b, "source": "heavy", "confidence": HEAVY_CONF}
        for b in parse_plain(stripped)
    ]


_FENCE_LINE_RE = re.compile(r"^\s*```")


def heavy_strip_blocks_anchored(payload: str) -> list[dict]:
    """Ensemble-mode heavy engine: tag-strip per ORIGINAL payload line
    (pure fence-marker lines skipped), blocks anchored to their payload
    line index — identical content found by another engine lands at the
    identical bbox, so J1 keeps exactly one copy (the higher-confidence
    native one)."""
    lines = payload.splitlines()
    pairs = []
    for i, ln in enumerate(lines):
        if _FENCE_LINE_RE.match(ln):
            continue
        text = re.sub(r"<[^>]+>", " ", ln).strip()
        text = _WS_RE.sub(" ", text)
        if text:
            pairs.append((i, text))
    return _line_anchored_blocks(pairs, len(lines), "heavy", HEAVY_CONF)


def escalate(payload: str, primary: list[dict]) -> list[dict]:
    """J9-style rescue: heavy fallback pass over the raw payload, union
    with the gated primary (P4: primary kept only if >= 100 chars)."""
    heavy = heavy_strip_blocks(payload)
    primary_chars = sum(len(b["text"]) for b in primary)
    gated_primary = primary if primary_chars >= NATIVE_LEN_GATE_CHARS else []
    return gated_primary + heavy


# --- spatial-cell-scoped rescue (P5 + J9 literal form) ----------------------
# Reference: 01_extract_blocks cell 2:26-55 (split_grid / blocks_in_cell /
# translate_blocks) with knobs GRID_N=3, CELL_MIN_CHARS=60 (cell 1:40-42).
# The reference crops sparse grid cells out of the page image, runs heavy
# OCR on the crop (which therefore reports CELL-LOCAL coordinates), and
# translates the results back by the cell origin (+dx,+dy).  Our payload
# analogue: sparse cells trigger a RELAXED re-parse of the layout lines the
# strict fast parser rejected (separator variants, missing conf/source —
# the heavy-engine-recovers-what-fast-missed shape), expressed cell-locally
# and translated back with a "+rescue" source suffix.

GRID_N = 3
CELL_MIN_CHARS = 60
_RESCUE_DEFAULT_CONF = 0.60
_RELAXED_SEP_RE = re.compile(r"[;,\s]+")


def split_grid(page_w: float = PAGE_W, page_h: float = PAGE_H,
               n: int = GRID_N) -> list[tuple[float, float, float, float]]:
    """n x n cell rectangles; last row/column absorbs the remainder
    (cell 2:31-37: `(gx+1)*cw if gx<n-1 else w`)."""
    cw, ch = page_w // n, page_h // n
    cells = []
    for gy in range(n):
        for gx in range(n):
            x0, y0 = gx * cw, gy * ch
            x1 = (gx + 1) * cw if gx < n - 1 else page_w
            y1 = (gy + 1) * ch if gy < n - 1 else page_h
            cells.append((x0, y0, x1, y1))
    return cells


def blocks_in_cell(blocks: list[dict], x0: float, y0: float, x1: float,
                   y1: float) -> list[dict]:
    """P5: keep blocks overlapping the cell — reject on the four
    disjointness tests (cell 2:39-44, open intervals: touching edges do
    NOT overlap)."""
    out = []
    for b in blocks:
        bx0, by0, bx1, by1 = b["bbox"]
        if bx1 <= x0 or by1 <= y0 or bx0 >= x1 or by0 >= y1:
            continue
        out.append(b)
    return out


def translate_blocks(blocks: list[dict], dx: float, dy: float,
                     source_suffix: str | None = None) -> list[dict]:
    """J9 bbox translation back into page coordinates (cell 2:46-55)."""
    out = []
    for b in blocks:
        nb = dict(b)
        x0, y0, x1, y1 = b["bbox"]
        nb["bbox"] = [x0 + dx, y0 + dy, x1 + dx, y1 + dy]
        if source_suffix:
            nb["source"] = f"{b.get('source', '')}{source_suffix}"
        out.append(nb)
    return out


def parse_layout_relaxed(payload: str, include_strict: bool = False) -> list[dict]:
    """The 'heavy engine' of the payload analogue: re-parse ONLY the
    lines the strict layout regex rejected, accepting separator variants
    (';' / whitespace / mixed) and missing conf/source fields.  Lines the
    fast pass already parsed are never re-emitted (no duplicates).

    include_strict=True parses EVERY line (the k-way ensemble mode,
    reference merge_ensemble 01_extract_blocks cell 4:388-400: each
    engine reads the whole page independently and J1 dedup absorbs the
    overlap — strict lines re-parsed here carry identical text+bbox, so
    IoU=1 / ratio=1 and dedup keeps exactly one copy)."""
    out: list[dict] = []
    for ln in payload.splitlines():
        if not ln.strip() or (not include_strict and _LAYOUT_LINE_RE.match(ln)):
            continue
        head, sep, text = ln.partition("|")
        if not sep or not text.strip():
            continue
        toks = [t for t in _RELAXED_SEP_RE.split(head.strip()) if t]
        if len(toks) not in (4, 5, 6):
            continue
        try:
            nums = [float(t) for t in toks[:4]]
        except ValueError:
            continue
        conf: float | str = _RESCUE_DEFAULT_CONF
        source = "rescue"
        if len(toks) >= 5:
            try:
                conf = float(toks[4])
            except ValueError:
                continue
        if len(toks) == 6:
            source = toks[5]
        out.append({
            "text": text.strip(),
            "confidence": norm_conf(conf),
            "bbox": clamp_bbox(coerce_bbox(nums)),
            "source": source,
        })
    return out


def grid_rescue(payload: str, blocks: list[dict], page_w: float = PAGE_W,
                page_h: float = PAGE_H, n: int = GRID_N,
                cell_min_chars: int = CELL_MIN_CHARS) -> list[dict]:
    """Per-cell second pass: for each grid cell whose overlapping blocks
    carry < cell_min_chars characters, run the relaxed heavy parse scoped
    to that cell — candidate blocks are clipped to the cell and
    re-expressed CELL-LOCALLY (the crop analogue), then translated back
    (+dx,+dy) with source suffix '+rescue'.  Returns only the rescued
    blocks; the caller unions them with the primary."""
    heavy = parse_layout_relaxed(payload)
    if not heavy:
        return []
    rescued: list[dict] = []
    for (x0, y0, x1, y1) in split_grid(page_w, page_h, n):
        chars = sum(len(b["text"]) for b in blocks_in_cell(blocks, x0, y0, x1, y1))
        if chars >= cell_min_chars:
            continue
        cell_local = []
        for b in blocks_in_cell(heavy, x0, y0, x1, y1):
            bx0, by0, bx1, by1 = b["bbox"]
            # a block belongs to exactly ONE cell — the one holding its
            # bbox center (a crop-based heavy pass would slice the text
            # pixels; our text blocks are indivisible, so emitting the
            # full text once per overlapped cell would duplicate it into
            # text_final — J1 can't catch disjoint clips, IoU 0)
            cx, cy = (bx0 + bx1) / 2.0, (by0 + by1) / 2.0
            if not (x0 <= cx < x1 or (cx == page_w and x1 == page_w)):
                continue
            if not (y0 <= cy < y1 or (cy == page_h and y1 == page_h)):
                continue
            cell_local.append({
                **b,
                "bbox": [max(bx0, x0) - x0, max(by0, y0) - y0,
                         min(bx1, x1) - x0, min(by1, y1) - y0],
            })
        rescued.extend(translate_blocks(cell_local, x0, y0, "+rescue"))
    return rescued
