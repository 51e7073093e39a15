"""spark-submit entry point for the standing corpus-quality monitors —
the fourth runtime surface next to job.py (extraction), job_corpus.py
(curation) and job_training.py (assembly).

    spark-submit --py-files dist/medical_ocr_pipeline_spark.zip \
        medical_ocr_pipeline_spark/job_monitor.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/monitor_run [--master local[N]] [--resume]

A production pipeline runs this job on every corpus snapshot and diffs
the outputs run-over-run; every frame it writes is an oracle-checked
registry core (queries/stats.py), so the job's numbers are exactly the
numbers the correctness gate pins:

  <out>/monitor_corr/       pairwise Pearson matrix (corr_frame)
  <out>/monitor_chi2/       lang x source chi-square cells (chi2_frame)
  <out>/monitor_gini/       per-language length Gini (gini_frame)
  <out>/monitor_diversity/  per-language source HHI / Simpson
                            (diversity_frame)
  <out>/monitor_drift/      train/test unigram drift top-k (drift_frame)
  <out>/monitor_oov/        test-vs-train OOV rates (oov_frame)
  <out>/monitor_ks/         per-language Kolmogorov-Smirnov length
                            drift (ks_frame)
  <out>/monitor_mw/         per-language Mann-Whitney 2U / AUC
                            (mw_frame)
  <out>/monitor_quantiles/  per-split exact length quantiles
                            (split_quantiles_frame)
  <out>/monitor_head_coverage/  top-k token cumulative share
                            (head_coverage_frame)
  <out>/eval_sample/        the deterministic fixed-k human-eval draw
                            (sample_frame)
  <out>/metrics/            one summary row per run (run_id, ts, doc
                            count, chi-square total, max drift term,
                            max KS, worst-language OOV) — the row a
                            dashboard threshold watches.  Appended
                            per run; when an engine upgrade WIDENS
                            this schema (max_ks_ppm did), a metrics
                            dir spanning versions must be read with
                            mergeSchema=true (old rows surface the new
                            columns as null) or started fresh —
                            parquet's footer-picked schema makes a
                            plain read of a mixed dir file-order
                            dependent.

Prints one RESULT line: docs, chi2_cells, drift_top, oov_langs,
sampled, secs.

Scale notes: every monitor is one scan plus combinable aggregates (the
per-query docstrings in queries/stats.py carry the 100 TB analysis);
the whole job is a handful of independent jobs over the same input —
at cluster scale they share the scan via parquet caching or run as one
pass per monitor, each individually bounded.  --resume skips any stage
whose _SUCCESS marker exists (pipeline.stage_is_complete), so a killed
run redoes only missing monitors.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import functions as F

from medical_ocr_pipeline_spark.queries.stats import (
    chi2_frame,
    corr_frame,
    diversity_frame,
    drift_frame,
    gini_frame,
    ks_frame,
    mw_frame,
    oov_frame,
    sample_frame,
    split_quantiles_frame,
)
from medical_ocr_pipeline_spark.queries.textstats import (
    head_coverage_frame,
)

STAGES = (
    ("monitor_corr", corr_frame),
    ("monitor_chi2", chi2_frame),
    ("monitor_gini", gini_frame),
    ("monitor_diversity", diversity_frame),
    ("monitor_drift", drift_frame),
    ("monitor_oov", oov_frame),
    ("monitor_quantiles", split_quantiles_frame),
    ("monitor_head_coverage", head_coverage_frame),
    ("monitor_ks", ks_frame),
    ("monitor_mw", mw_frame),
    ("eval_sample", sample_frame),
)


def run_monitors(spark, args, out: str) -> None:
    from concurrent.futures import ThreadPoolExecutor

    from medical_ocr_pipeline_spark.pipeline import (
        stage_is_complete,
        write_stage,
    )

    t0 = time.time()
    docs = spark.read.parquet(args.input).persist()
    n_docs = docs.count()
    print(f"SETUP secs={time.time() - t0:.1f}", flush=True)

    def run_stage(item):
        name, core = item
        path = f"{out}/{name}"
        if args.resume and stage_is_complete(spark, path):
            print(f"PHASE {name} resumed", flush=True)
            return
        ts = time.time()
        write_stage(core(docs), path)
        print(f"PHASE {name} secs={time.time() - ts:.1f}", flush=True)

    # The monitors are INDEPENDENT single-scan aggregations over the
    # same persisted input, so they run as concurrent Spark jobs from a
    # driver-side thread pool: each stage's serial slice (driver
    # planning, AQE re-optimization, parquet commit) overlaps another
    # stage's compute, and task slots a narrow stage leaves idle are
    # filled by its neighbors.  Sequentially, eleven stages pay eleven
    # serial floors back-to-back — the measured difference is ~2x wall
    # clock at 32 cores (BENCH.md, job_monitor scaling run).  Results
    # are unaffected: stages share nothing but the read-only cached
    # frame and write to disjoint paths (tests/test_job_monitor.py pins
    # every stage row-identical to its registry query).
    with ThreadPoolExecutor(max_workers=4) as pool:
        # list() re-raises the first stage failure, if any
        list(pool.map(run_stage, STAGES))

    t_sum = time.time()
    chi2 = spark.read.parquet(f"{out}/monitor_chi2")
    drift = spark.read.parquet(f"{out}/monitor_drift")
    oov = spark.read.parquet(f"{out}/monitor_oov")
    sample = spark.read.parquet(f"{out}/eval_sample")

    # the dashboard row: every scalar a bounded aggregate of a frame
    # that is itself oracle-checked
    chi2_total, n_cells = chi2.agg(
        F.coalesce(F.sum("contrib_ppm"), F.lit(0)), F.count("*")
    ).collect()[0]
    max_drift = drift.agg(
        F.coalesce(F.max("contrib_ppb"), F.lit(0))
    ).collect()[0][0]
    max_ks = (
        spark.read.parquet(f"{out}/monitor_ks")
        .agg(F.coalesce(F.max("ks_ppm"), F.lit(0)))
        .collect()[0][0]
    )
    worst_oov = oov.agg(
        F.coalesce(F.max("oov_ppm"), F.lit(0))
    ).collect()[0][0]
    n_oov_langs = oov.count()
    n_sampled = sample.count()

    from medical_ocr_pipeline_spark.pipeline import write_stage as ws

    metrics = spark.createDataFrame(
        [
            (
                args.run_id,
                n_docs,
                int(chi2_total),
                n_cells,
                int(max_drift),
                int(max_ks),
                int(worst_oov),
                n_oov_langs,
                n_sampled,
            )
        ],
        "run_id string, n_docs long, chi2_total_ppm long, chi2_cells long,"
        " max_drift_ppb long, max_ks_ppm long, worst_oov_ppm long,"
        " oov_langs long, n_sampled long",
    ).withColumn("ts", F.current_timestamp())
    ws(metrics, f"{out}/metrics", mode="append")

    docs.unpersist()
    print(f"SUMMARY secs={time.time() - t_sum:.1f}", flush=True)
    print(
        f"RESULT docs={n_docs} chi2_cells={n_cells} "
        f"chi2_total_ppm={int(chi2_total)} max_drift_ppb={int(max_drift)} "
        f"max_ks_ppm={int(max_ks)} "
        f"oov_langs={n_oov_langs} sampled={n_sampled} "
        f"secs={time.time() - t0:.1f}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, lang, source)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="monitor_run")
    ap.add_argument("--resume", action="store_true",
                    help="skip monitors whose _SUCCESS marker exists")
    args = ap.parse_args()

    from medical_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app=f"monitor:{args.run_id}", master=args.master)
    run_monitors(spark, args, args.out)
    spark.stop()


if __name__ == "__main__":
    main()
