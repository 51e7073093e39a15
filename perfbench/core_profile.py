"""Single-process profile of the per-turn Python core.

``staged_extract`` replays ``core.extract.extract_turn_blocks`` and
``finish_extract`` stage by stage, calling the same public stage
functions in the same order, with a timer around each stage.  Its
result must equal ``extract_turn`` on every sampled turn (the drift
guard): if the engine's stage sequence changes, the profile fails the
run instead of silently timing a different pipeline.
"""

from __future__ import annotations

import statistics
import time

from medical_ocr_pipeline_spark.constants import MIN_CONF, MIN_TEXT_LEN
from medical_ocr_pipeline_spark.core import textnorm
from medical_ocr_pipeline_spark.core.dedup_blocks import deduplicate
from medical_ocr_pipeline_spark.core.extract import ExtractResult, extract_turn, section_of
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

STAGES = ("parse", "dedup_blocks", "lineify", "normalize", "textnorm", "select", "segment")
VARIANTS = ("html", "html+heavy", "layout", "layout+heavy", "layout+rescue", "json", "plain", "empty")


class StageTally:
    """Per-stage seconds plus the counters the stages expose."""

    def __init__(self) -> None:
        self.s = dict.fromkeys(STAGES, 0.0)
        self.blocks_parsed = 0
        self.blocks_gated = 0
        self.raw_kept = 0
        self.para_in = self.para_kept = 0
        self.escalated = 0
        self.rescued = 0
        self.fuzzy_lookups = 0
        self.variants: dict[str, int] = {}


def staged_extract(payload: str, tally: StageTally, enable_fuzzy: bool = True):
    """extract_turn with a timer per stage; returns the ExtractResult."""

    clock = time.perf_counter
    s = tally.s
    t = clock()
    raw_blocks, variant, parse_failures = parse_payload(payload)
    if (variant == "html" and need_escalation(raw_blocks)) or (
        variant == "layout" and not raw_blocks
    ):
        raw_blocks = escalate(payload, raw_blocks)
        variant = variant + "+heavy"
        tally.escalated += 1
    elif variant == "layout" and parse_failures:
        rescued = grid_rescue(payload, raw_blocks)
        if rescued:
            raw_blocks = raw_blocks + rescued
            variant = variant + "+rescue"
            tally.rescued += 1
    gated = [
        b for b in raw_blocks
        if b["confidence"] >= MIN_CONF and b["text"] and b["text"].strip()
    ]
    t1 = clock()
    s["parse"] += t1 - t
    prededup = deduplicate(gated)
    t2 = clock()
    paras = regroup_lines(prededup)
    t3 = clock()
    deduped = deduplicate(paras)
    t4 = clock()
    s["dedup_blocks"] += (t2 - t1) + (t4 - t3)
    s["lineify"] += t3 - t2
    for b in deduped:
        b["section"] = section_of(b["bbox"])
    normalized, stats = normalize_turn(deduped)
    t5 = clock()
    s["normalize"] += t5 - t4

    final_blocks: list[dict] = []
    tn = sel = 0.0
    for b in normalized:
        a = clock()
        txt = textnorm.apply_rules(b["text"])
        txt, _ = textnorm.apply_dictionary(txt)
        before_fuzzy = txt
        if enable_fuzzy:
            txt, _ = textnorm.apply_fuzzy(txt)
        m = clock()
        label, chosen = select_final(b["text"], txt)
        b["text_cleaned"] = txt
        b["text"] = chosen
        b["kept_label"] = label
        if len(chosen.strip()) >= MIN_TEXT_LEN:
            final_blocks.append(b)
        e = clock()
        tn += m - a
        sel += e - m
        if enable_fuzzy:
            tally.fuzzy_lookups += sum(
                1 for _ in textnorm._FUZZY_TOKEN_RE.finditer(before_fuzzy)
            )
    s["textnorm"] += tn
    s["select"] += sel

    t6 = clock()
    segments = segment_turn(final_blocks)
    text_final = "\n".join(seg["text"] for seg in segments if seg["text"])
    n = len(final_blocks)
    mean_conf = sum(b.get("confidence", 1.0) for b in final_blocks) / n if n else 0.0
    payload_bytes = len(payload.encode("utf-8")) if payload else 0
    result = ExtractResult(
        text_final=text_final,
        n_blocks=n,
        n_segments=len(segments),
        mean_conf=mean_conf,
        bytes_stripped=max(0, payload_bytes - len(text_final.encode("utf-8"))),
        parse_failures=parse_failures,
        n_header=stats["tag_header"],
        n_footer=stats["tag_footer"],
        two_col=stats["mode"] == "2col",
        variant=variant,
    )
    s["segment"] += clock() - t6

    tally.blocks_parsed += len(raw_blocks)
    tally.blocks_gated += len(gated)
    tally.raw_kept += len(prededup)
    tally.para_in += len(paras)
    tally.para_kept += len(deduped)
    tally.variants[variant] = tally.variants.get(variant, 0) + 1
    return result


def profile(payloads: list[str], reps: int = 3) -> tuple[dict, int]:
    """Replay ``payloads`` ``reps`` times through the staged replay and
    through ``extract_turn``, interleaved.  Returns (metrics, drift) where
    drift counts turns whose staged result differs from extract_turn.

    The first staged pass runs on a cleared fuzzy memo and supplies the
    counters; timings are medians over the later passes, when the memo
    is as warm as in a long-lived Python worker."""
    clock = time.perf_counter
    n = len(payloads)
    memo = textnorm._FUZZY_MEMO
    memo.clear()
    first = StageTally()
    want = [extract_turn(p) for p in payloads]
    memo.clear()
    got = [staged_extract(p, first) for p in payloads]
    fuzzy_misses = len(memo)
    drift = sum(1 for a, b in zip(got, want) if a != b)

    stage_s: dict[str, list[float]] = {k: [] for k in STAGES}
    total_s: list[float] = []
    per_turn: list[float] = []
    for _ in range(reps):
        tally = StageTally()
        for p in payloads:
            staged_extract(p, tally)
        for k in STAGES:
            stage_s[k].append(tally.s[k])
        t0 = clock()
        for p in payloads:
            a = clock()
            extract_turn(p)
            per_turn.append(clock() - a)
        total_s.append(clock() - t0)

    us = 1e6 / n
    m: dict[str, float] = {}
    for k in STAGES:
        m[f"core.{k}.us_per_turn"] = statistics.median(stage_s[k]) * us
    extract_us = statistics.median(total_s) * us
    m["core.extract.us_per_turn"] = extract_us
    m["core.unattributed.us_per_turn"] = extract_us - sum(
        m[f"core.{k}.us_per_turn"] for k in STAGES
    )
    q = statistics.quantiles(per_turn, n=100)
    m["core.extract.p50_us"] = statistics.median(per_turn) * 1e6
    m["core.extract.p99_us"] = q[98] * 1e6
    m["core.samples"] = n
    m["core.blocks_parsed"] = first.blocks_parsed
    m["core.blocks_gated"] = first.blocks_gated
    m["core.dedup_blocks.raw_kept_ratio"] = first.raw_kept / max(1, first.blocks_gated)
    m["core.dedup_blocks.para_kept_ratio"] = first.para_kept / max(1, first.para_in)
    m["core.escalated_frac"] = first.escalated / n
    m["core.rescued_frac"] = first.rescued / n
    m["core.textnorm.fuzzy_memo_hit_ratio"] = (
        1.0 - fuzzy_misses / first.fuzzy_lookups if first.fuzzy_lookups else 0.0
    )
    for v in VARIANTS:
        m[f"core.variant.{variant_key(v)}_frac"] = first.variants.get(v, 0) / n
    return m, drift


def variant_key(v: str) -> str:
    return v.replace("+", "_")
