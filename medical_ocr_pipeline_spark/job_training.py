"""spark-submit entry point for training-set assembly over a documents
table — the last mile after job_corpus.py's curation: gate, mix, split,
pack, shard.

    spark-submit --py-files dist/medical_ocr_pipeline_spark.zip \
        medical_ocr_pipeline_spark/job_training.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/train_run [--master local[N]] [--resume]

Stages (each written with a _SUCCESS marker; --resume skips each stage
INDEPENDENTLY when its marker exists, and the packed stage always reads
the WRITTEN mixed stage — the expensive gate+token-count lineage runs
exactly once per stage build, never twice per run):
  <out>/docs_mixed/    per-doc mixing verdict (nt, coin, rate_ppm,
                       sampled) over the GATE-PASSING docs — the per-doc
                       form of the oracle-checked mixture_sample query
                       (shared core: queries/training.mixture_doc_frame).
  <out>/docs_packed/   sampled docs with split (train/val/test — the
                       oracle-checked split_expr), global token offset
                       WITHIN the split (two-phase range-partitioned
                       cumsum, never an unpartitioned window), bin span
                       and shard span [shard_id, last_shard] (a doc can
                       cross shard boundaries); partitioned by split.
  <out>/metrics/       one row per (split, source): docs, tokens,
                       shards TOUCHED (span-exploded, so a
                       boundary-crossing doc counts in every shard it
                       reaches).
  <out>/leakage/       per-eval-split decontamination audit: how many
                       packed val/test docs are exact or LSH-near
                       duplicates of a packed TRAIN doc (the
                       incremental_verdicts semi-join cores — the same
                       check the oracle-backed split_leakage_check
                       registry query runs corpus-wide).  Disable with
                       --no-leakage-audit.
  <out>/docs_bfd/      (--packing best-fit only) per-split best-fit-
                       decreasing packing assignment of the sampled
                       docs (queries/training.best_fit_pack_items, the
                       reference-pinned core): full SEQ_LEN chunks tile
                       bins exactly, remainders pack BFD inside
                       deterministic hash groups — the zero-truncation
                       layout of Ding et al. 2024, alongside the
                       default concat-and-chunk docs_packed stage.

Prints one RESULT line:
  RESULT docs=N kept=N sampled=N train=N val=N test=N shards=N secs=S
(shards = distinct (split, shard) pairs touched; + bfd_bins — full
chunks plus packed remainder bins — when --packing best-fit.)

Every decision is a deterministic salted-md5 hash compare — rerunning
the job, resuming it, or changing cluster size cannot change a single
assignment (the north-rule reproducibility contract).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import DataFrame, functions as F

from medical_ocr_pipeline_spark.queries.textstats import document_verdicts
from medical_ocr_pipeline_spark.queries.training import (
    _PACK_H_SPARK,
    SEQ_LEN,
    best_fit_pack_items,
    global_running_offset,
    mixture_doc_frame,
    split_expr,
)

SEQS_PER_SHARD = 64  # SEQ_LEN * SEQS_PER_SHARD tokens per output shard


def mixture_verdict_frame(docs) -> DataFrame:
    """Per-doc mixing verdict over the gate-passing documents — the
    docs_mixed stage, built from the oracle-checked shared cores."""
    gate = document_verdicts(docs).select("doc_id", "keep")
    kept = docs.join(gate.where("keep").select("doc_id"), "doc_id")
    return mixture_doc_frame(kept)


def pack_sampled(mixed) -> DataFrame:
    """Sampled docs -> split / offset / bins / shard span.  Takes the
    docs_mixed frame (in-memory or read back from its stage), so the
    gate+mixture lineage is never re-executed to build this stage.

    The offset is computed per split (each split is its own contiguous
    token stream, like separate train and eval binaries on disk); a
    document with nt tokens at offset o spans shards
    [o // shard_tokens, (o + nt - 1) // shard_tokens]."""
    sampled = (
        mixed.where("sampled")
        .select("doc_id", "source", "nt")
        .withColumn("split", split_expr())
    )
    parts = []
    for split in ("train", "val", "test"):
        d = sampled.where(F.col("split") == split).withColumn(
            "h", F.expr(_PACK_H_SPARK)
        )
        parts.append(global_running_offset(d))
    packed = parts[0]
    for p in parts[1:]:
        packed = packed.unionByName(p)
    shard_tokens = SEQ_LEN * SEQS_PER_SHARD
    return packed.select(
        "doc_id", "source", "split", "nt", "offset",
        F.expr(f"offset DIV {SEQ_LEN}").alias("first_bin"),
        F.expr(
            f"CASE WHEN nt > 0 THEN (offset + nt - 1) DIV {SEQ_LEN} "
            f"ELSE offset DIV {SEQ_LEN} END"
        ).alias("last_bin"),
        F.expr(f"offset DIV {shard_tokens}").alias("shard_id"),
        F.expr(
            f"CASE WHEN nt > 0 THEN (offset + nt - 1) DIV {shard_tokens} "
            f"ELSE offset DIV {shard_tokens} END"
        ).alias("last_shard"),
    )


def bfd_pack_sampled(mixed) -> DataFrame:
    """Per-split best-fit packing of the sampled docs — the
    docs_bfd stage.  Each split packs independently (its own bins,
    like its own binary on disk), via the reference-pinned
    best_fit_pack_items core over the mixed stage's already-counted
    nt column (no re-tokenization)."""
    sampled = (
        mixed.where("sampled")
        .select("doc_id", "nt")
        .withColumn("split", split_expr())
    )
    parts = [
        best_fit_pack_items(
            sampled.where(F.col("split") == split).select("doc_id", "nt")
        ).withColumn("split", F.lit(split))
        for split in ("train", "val", "test")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def assemble_training_set(docs) -> tuple[DataFrame, DataFrame]:
    """(mixed, packed) without intermediate IO — the test/in-memory
    form; main() chains packed from the WRITTEN mixed stage instead."""
    mixed = mixture_verdict_frame(docs)
    return mixed, pack_sampled(mixed)


def shards_touched(packed) -> DataFrame:
    """(split, source, n_docs, n_tokens, n_shards) with shard counts
    over the full [shard_id, last_shard] span of every document."""
    return (
        packed.withColumn(
            "shard", F.explode(F.sequence("shard_id", "last_shard"))
        )
        .groupBy("split", "source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            # nt repeats once per touched shard — count it only on the
            # doc's first shard row
            F.sum(
                F.when(F.col("shard") == F.col("shard_id"), F.col("nt"))
                .otherwise(F.lit(0))
            ).alias("n_tokens"),
            F.countDistinct("shard").alias("n_shards"),
        )
    )


def leakage_audit(docs, packed) -> DataFrame:
    """(split, n_docs, n_exact_leaks, n_near_leaks) over the PACKED
    docs: eval splits checked against the packed train split with the
    exact-hash + LSH-band semi-joins of queries/dedup."""
    from medical_ocr_pipeline_spark.queries.dedup import (
        incremental_verdicts,
    )

    with_text = packed.select("doc_id", "split").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    train = with_text.where(F.col("split") == "train")
    evals = with_text.where(F.col("split") != "train")
    return (
        incremental_verdicts(train, evals)
        .join(evals.select("doc_id", "split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("exact_dup").cast("long")).alias("n_exact_leaks"),
            F.sum(F.col("near_dup").cast("long")).alias("n_near_leaks"),
        )
        .orderBy("split")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, lang, source)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="train_run")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose _SUCCESS marker exists")
    ap.add_argument("--no-leakage-audit", action="store_true",
                    help="skip the train->eval decontamination audit")
    ap.add_argument("--packing", choices=["concat", "best-fit"],
                    default="concat",
                    help="'best-fit' additionally writes <out>/docs_bfd: "
                         "per-split best-fit-decreasing bin assignments")
    args = ap.parse_args()

    from medical_ocr_pipeline_spark.pipeline import (
        stage_is_complete,
        write_stage,
    )
    from medical_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app=f"training:{args.run_id}", master=args.master)
    t0 = time.time()

    docs = spark.read.parquet(args.input)
    mixed_path = f"{args.out}/docs_mixed"
    packed_path = f"{args.out}/docs_packed"

    if not (args.resume and stage_is_complete(spark, mixed_path)):
        write_stage(mixture_verdict_frame(docs), mixed_path)
    mixed = spark.read.parquet(mixed_path)

    if not (args.resume and stage_is_complete(spark, packed_path)):
        pack_sampled(mixed).write.mode("overwrite").partitionBy(
            "split").parquet(packed_path)
    packed = spark.read.parquet(packed_path)

    metrics = (
        shards_touched(packed)
        .withColumn("run_id", F.lit(args.run_id))
        .withColumn("ts", F.current_timestamp())
    )
    write_stage(metrics, f"{args.out}/metrics", mode="append")

    if not args.no_leakage_audit:
        write_stage(
            leakage_audit(docs, packed)
            .withColumn("run_id", F.lit(args.run_id)),
            f"{args.out}/leakage",
        )

    extra = ""
    if args.packing == "best-fit":
        bfd_path = f"{args.out}/docs_bfd"
        if not (args.resume and stage_is_complete(spark, bfd_path)):
            write_stage(bfd_pack_sampled(mixed), bfd_path)
        bfd = spark.read.parquet(bfd_path)
        n_bins = (
            bfd.agg(
                (
                    F.coalesce(F.sum("full_bins"), F.lit(0))
                    + F.countDistinct(
                        F.when(
                            F.col("bin_in_group") >= 0,
                            F.struct("split", "grp", "bin_in_group"),
                        )
                    )
                ).alias("b")
            ).collect()[0]["b"]
        )
        extra = f" bfd_bins={n_bins}"

    n = docs.count()
    kept = mixed.count()
    sampled = mixed.where("sampled").count()
    by_split = {
        r["split"]: r["n"]
        for r in packed.groupBy("split").agg(
            F.count("*").alias("n")).collect()
    }
    shards = (
        packed.select(
            "split", F.explode(F.sequence("shard_id", "last_shard"))
        )
        .distinct()
        .count()
    )
    dt = time.time() - t0
    print(
        f"RESULT docs={n} kept={kept} sampled={sampled} "
        f"train={by_split.get('train', 0)} val={by_split.get('val', 0)} "
        f"test={by_split.get('test', 0)} shards={shards} secs={dt:.1f}"
        f"{extra}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
