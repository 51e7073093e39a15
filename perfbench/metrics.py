"""Every metric the benchmark reports: name, unit, direction, and for
end-to-end metrics the regression bound; for per-layer metrics, the
end-to-end metric and workload they should move.  BENCHMARK.json is
written from these tables (``run.py --write-manifest``)."""

from __future__ import annotations

from core_profile import STAGES, VARIANTS, variant_key
from workloads import CURATION_QUERIES

WORKLOADS = {
    "extract_mixed": (
        "synth world, four payload variants, power-law sizes, ~1% megaconversations, "
        "90k turns: ~80% of wall time is the Python core, so parse/dedup/regroup/cleanup "
        "changes show here"
    ),
    "extract_short": (
        "200k chat-shaped one-or-two-line turns: the core costs ~35 us per turn, so "
        "scan, Arrow round trip, stage write and assembly carry the time; core-stage "
        "changes should not show"
    ),
    "curation_queries": (
        "nine Catalyst-only registry queries over a seeded 5k-document table: no Python "
        "node, every query hits an ad-hoc persist/localCheckpoint site"
    ),
}

# The workloads BENCHMARK.json lists.  Every run pays ~24 s of fixed cost
# (three cold set-ups and the JVM stop), so two workloads keep a round of
# 22 runs each under an hour on a 4-CPU host; extract_short stays
# runnable by name for boundary and write changes.
MANIFEST_WORKLOADS = ("extract_mixed", "curation_queries")

# (name, unit, better, bound).  Time bounds are 0.25: same-code runs on
# a shared 4-CPU host spread by 5-15% (one vCPU runs ~20% slower than the
# others when all four are busy).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("warm_s", "s", "lower", 0.25),
    ("turns_per_s", "turns/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

_X = "turns_per_s,warm_s on extract_mixed"
_S = "turns_per_s,warm_s on extract_short, less on extract_mixed"
_Q = "warm_s,cold_s on curation_queries"

# span names the benchmark records around its layer calls, and what
# their self time should move
SPANS = (
    ("pass", "warm_s on all workloads"),
    ("stage01_write", "turns_per_s on extract workloads"),
    ("read_back", _S),
    ("partition_metrics_write", _S),
    ("conversation_text_write", _S),
    ("query_plan", _Q),
    ("query_collect", _Q),
)

# (name, unit, better, what it should move)
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s on all workloads"),
    ("session.worker_warmup_s", "s", "lower", "setup_s on all workloads"),
    ("ladder.scan_s", "s", "lower", _S),
    ("ladder.arrow_roundtrip_s", "s", "lower", _S),
    ("pipeline.extract_transcripts_s", "s", "lower", "turns_per_s on extract_mixed"),
    ("pipeline.write_stage_s", "s", "lower", _S),
    ("pipeline.write_stage_bytes", "bytes", "lower", _S),
    ("pipeline.write_stage_files", "count", "lower", _S),
    ("pipeline.partition_metrics_s", "s", "lower", _S),
    ("pipeline.conversation_text_s", "s", "lower", _S),
    ("pipeline.assembly_regime_probe_s", "s", "lower", _S),
    ("pipeline.conversations", "count", "higher", _S),
    ("pipeline.max_conv_state_bytes", "bytes", "lower", _S),
    ("pipeline.non_core_s", "s", "lower", "turns_per_s on extract_short"),
    ("pipeline.core_efficiency", "ratio", "higher", "turns_per_s on extract_mixed"),
    *[(f"core.{k}.us_per_turn", "us", "lower", _X) for k in STAGES],
    ("core.extract.us_per_turn", "us", "lower", _X),
    ("core.unattributed.us_per_turn", "us", "lower", _X),
    ("core.extract.p50_us", "us", "lower", _X),
    ("core.extract.p99_us", "us", "lower", _X),
    ("core.samples", "count", "higher", _X),
    ("core.blocks_parsed", "count", "lower", _X),
    ("core.blocks_gated", "count", "lower", _X),
    ("core.dedup_blocks.raw_kept_ratio", "ratio", "higher", _X),
    ("core.dedup_blocks.para_kept_ratio", "ratio", "higher", _X),
    ("core.escalated_frac", "ratio", "lower", _X),
    ("core.rescued_frac", "ratio", "lower", _X),
    ("core.textnorm.fuzzy_memo_hit_ratio", "ratio", "higher", _X),
    *[(f"core.variant.{variant_key(v)}_frac", "ratio", "higher", _X) for v in VARIANTS],
    *[(f"queries.{q}_s", "s", "lower", _Q) for q in CURATION_QUERIES],
    ("queries.cached_blocks_after", "count", "lower", "peak_rss_mb on curation_queries"),
    *[(f"trace.self.{n}_s", "s", "lower", m) for n, m in SPANS],
    ("trace.overhead_frac", "ratio", "lower", "none: traced vs untraced warm_s"),
    ("failed_frac", "ratio", "lower", "every metric: failed layer calls over attempted"),
]

def manifest(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": WORKLOADS[n]} for n in MANIFEST_WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }
