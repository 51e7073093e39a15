"""Output invariance across physical parallelism.

The north rule requires identical outputs at N and 4N cluster sizes.
This test pins that property for representative registry queries
against the knob that actually changes intra-job parallelism inside one
session: spark.sql.shuffle.partitions (2 vs 32 changes every exchange's
layout, task count, and reduce order).  The extraction job's stage
checksums are compared across passes by perfbench/run.py.
"""

import pandas as pd
import pytest

from medical_ocr_pipeline_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# one query per family with nontrivial shuffles
QUERIES = [
    "q_region_revenue",      # broadcast star join + agg
    "w4_sessionize",         # window lag/cumsum
    "dedup_minhash_lsh",     # band bucket self-join
    "corpus_keep_drop",      # two-phase prefix dedup + join
    "funnel_conversion",     # collect_list fold
    "cohort_retention",      # join + distinct count
    "span_boilerplate",      # span document-frequency index + join-back
    "token_budget_sample",   # hash-threshold sampling MUST not move with
                             # partitioning (unlike RNG sampleBy)
    "host_pagerank",         # iterative float inflow sums cross partitions
                             # — the 8-decimal rounding must absorb the
                             # partition-order ulps at ANY layout
    "dedup_components",      # iterative min-label propagation loop
    "semdedup",              # integer-micro keep rule over cluster pairs
    "pack_bin_manifest",     # two-phase range cumsum + interval explode
    "line_dedup",            # corpus rewrite: first-occurrence MIN winner
                             # + reassembly must not move with layout
    "unimax_sample",         # waterfilling over the lang summary + coin
                             # sample — allocation is layout-free math
    "quality_percentiles",   # two-phase range-partitioned per-lang rank
                             # (no per-lang window) — rank must be a pure
                             # function of the (score, doc_id) total order
    "gini_doc_lengths",      # same two-phase rank core, moment sums
]


@pytest.mark.parametrize("name", QUERIES)
def test_query_invariant_under_shuffle_partitions(spark, name):
    fn = REGISTRY[name].fn
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = fn(spark, SF_DIR).toPandas()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = fn(spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    cols = list(a.columns)
    a = a.sort_values(cols).reset_index(drop=True)
    b = b.sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
