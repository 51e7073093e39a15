"""spark-submit entry point for the extraction pipeline.

Usage:
    spark-submit --py-files dist/medical_ocr_pipeline_spark.zip \
        medical_ocr_pipeline_spark/job.py \
        --n-convs 1000 --out /tmp/run1 [--master local[N]] [--resume]

Runs: synthesize (or read) transcripts -> per-turn extraction ->
stage sink + per-partition metrics sink + conversation-level assembly.
On a real cluster, --input points at the Iceberg/parquet transcripts
table instead of synthesizing.
"""

from __future__ import annotations

import argparse
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=1000)
    ap.add_argument("--input", help="parquet path of transcripts (else synthesize)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--run-id", default="run_001")
    ap.add_argument("--no-fuzzy", action="store_true")
    ap.add_argument("--repartition", action="store_true",
                    help="repartition --input by hash(conv_id) before extraction")
    ap.add_argument("--salt-buckets", type=int, default=0,
                    help="salted-key spread for megaconversations (implies "
                         "--repartition); per-turn work needs no co-location")
    ap.add_argument("--resume", action="store_true",
                    help="skip extraction if the stage output already exists")
    ap.add_argument("--ensemble", action="store_true",
                    help="k-way parallel engine ensemble per turn (reference "
                         "prefect_pipeline.py:157-233 shape): every healthy "
                         "engine over the same payload, union + J1 dedup; "
                         "adds the per-engine metrics stage 01_engine_metrics")
    ap.add_argument("--qa-report", action="store_true",
                    help="render <out>/qa_report.html from the finished "
                         "stage tables (the reference's HTML QA evaluator "
                         "artifact, qa_pipeline_evaluator.py:819-865)")
    args = ap.parse_args(argv)

    from medical_ocr_pipeline_spark.pipeline import (
        conversation_text,
        extract_transcripts,
        partition_metrics,
        resume_or_compute,
        write_stage,
    )
    from medical_ocr_pipeline_spark.session import get_spark
    from medical_ocr_pipeline_spark.synth import spark_transcripts

    spark = get_spark(app=f"extract:{args.run_id}", master=args.master)
    t0 = time.time()

    if args.input:
        transcripts = spark.read.parquet(args.input)
        if args.salt_buckets or args.repartition:
            from medical_ocr_pipeline_spark.pipeline import repartition_by_conv

            # salted hash(conv_id) spread: per-turn extraction needs no
            # co-location, so megaconversations fan out over salt buckets
            transcripts = repartition_by_conv(
                transcripts, args.partitions, salt_buckets=args.salt_buckets
            )
    else:
        transcripts = spark_transcripts(spark, args.n_convs, args.partitions)

    extract_path = f"{args.out}/01_extracted"

    def compute():
        extracted = extract_transcripts(
            transcripts, enable_fuzzy=not args.no_fuzzy,
            ensemble=args.ensemble, with_engine_metrics=args.ensemble,
        )
        write_stage(extracted, extract_path)
        return spark.read.parquet(extract_path)

    if args.resume:
        extracted = resume_or_compute(spark, extract_path, compute)
    else:
        extracted = compute()

    if args.ensemble:
        # per-engine traceability stage — a cheap columnar explode of the
        # written stage parquet, not a second engine run
        from medical_ocr_pipeline_spark.pipeline import engine_metrics_table

        write_stage(
            engine_metrics_table(extracted), f"{args.out}/01_engine_metrics"
        )

    write_stage(
        partition_metrics(extracted, args.run_id, "01_extracted"),
        f"{args.out}/metrics",
        mode="append",
    )
    write_stage(conversation_text(extracted), f"{args.out}/02_conversations")

    if args.qa_report:
        from medical_ocr_pipeline_spark.report import render_qa_report

        print(f"REPORT {render_qa_report(spark, args.out)}")

    n = extracted.count()
    dt = time.time() - t0
    print(f"RESULT turns={n} secs={dt:.1f} turns_per_sec={n / dt:.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
