"""spark-submit entry point for the corpus-curation pipeline over a
documents table — the training-data companion to job.py's transcript
extraction.

    spark-submit --py-files dist/medical_ocr_pipeline_spark.zip \
        medical_ocr_pipeline_spark/job_corpus.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/corpus_run [--master local[N]]

Writes:
  <out>/docs_curated/   one row per document: gate verdict with
                        first-failing reason (prefix-dup / too_short /
                        repetitive), exact-dup fingerprint, token
                        count — the per-doc form of the
                        corpus_keep_drop registry query — plus the
                        near-dup cluster id (connected components over
                        the Jaccard pairs) and is_representative;
                        final keep = gate verdict AND representative.
  <out>/dup_pairs/      exact n-gram Jaccard near-dup pairs (the
                        inverted-index join from dedup_ngram_jaccard).
  <out>/docs_rewritten/ (--line-dedup only) the C4/CCNet line-level
                        rewrite of the KEPT documents: duplicated
                        fixed-width word-segments keep one global copy
                        (queries/curation.py::line_dedup_rewrite, the
                        oracle-checked core), documents reassembled
                        from survivors.
  <out>/docs_span_dedup/ (--span-dedup only) the Lee-et-al duplicate-
                        span rewrite of the kept corpus: repeated
                        W-word spans keep their first occurrence only
                        (queries/dedup.py::span_dedup_rewrite_frame,
                        the oracle-checked registry core)
  <out>/docs_decontam/  (--decontaminate only) the benchmark-
                        decontamination rewrite of the KEPT documents:
                        tokens covered by a benchmark-colliding shingle
                        removed, documents reassembled from survivors
                        (queries/dedup.py::decontaminate_rewrite_frame,
                        the oracle-checked core).
  <out>/metrics/        one row per curation reason (counts, avg words).

Prints one RESULT line: docs, kept, dropped, dup_pairs, secs
(+ lines_dropped when --line-dedup; + tokens_decontam when
--decontaminate).

All heavy lifting is pure Catalyst (no Python nodes): the curation
gates are column expressions, the dup candidates an equi-join on the
shingle key.  Scale notes as in queries/textstats.py::corpus_keep_drop
and queries/dedup.py.
"""

from __future__ import annotations

import argparse
import time


from pyspark.sql import functions as F

from medical_ocr_pipeline_spark.queries.curation import line_dedup_rewrite
from medical_ocr_pipeline_spark.queries.dedup import (
    decontaminate_rewrite_frame,
    ngram_jaccard_pairs,
    span_dedup_rewrite_frame,
)
from medical_ocr_pipeline_spark.queries.textstats import document_verdicts


def curate_documents(docs):
    """Per-document keep/drop verdict frame: delegates to the shared
    document_verdicts core (the oracle-checked corpus_keep_drop gates),
    adding the source column and the exact-dup fingerprint."""
    return document_verdicts(
        docs, extra_cols=("source",), with_fingerprint=True
    )


def rewrite_kept(docs, curated):
    """C4/CCNet line-level rewrite of the gate-surviving corpus:
    line_dedup_rewrite (the oracle-checked registry core) over only the
    documents the curation gate kept — the order a production pipeline
    wants (gate first: no point paying the segment index for dropped
    docs; the rewrite's first-occurrence rule then applies to the
    SURVIVING corpus, so a kept doc never loses lines to a dropped
    near-duplicate)."""
    kept_ids = curated.where("keep").select("doc_id")
    return line_dedup_rewrite(docs.join(kept_ids, "doc_id"))


def decontam_kept(docs, curated):
    """Benchmark-decontamination rewrite of the gate-surviving corpus:
    decontaminate_rewrite_frame (the oracle-checked registry core) over
    only the documents the curation gate kept — same gate-first order
    as rewrite_kept, for the same reason (no probe cost for dropped
    docs).  The benchmark SHINGLE side is built from the FULL input
    (bench_docs=docs): a benchmark doc the gate happens to drop must
    still scrub its copies, so only the probe side is gated."""
    kept_ids = curated.where("keep").select("doc_id")
    return decontaminate_rewrite_frame(
        docs.join(kept_ids, "doc_id"), bench_docs=docs
    )


def span_dedup_kept(docs, curated):
    """Lee-et-al duplicate-span removal over the gate-surviving corpus:
    span_dedup_rewrite_frame (the oracle-checked registry core) on only
    the kept documents — gate-first like rewrite_kept, and for the same
    keep-one-copy reason: the canonical (first) occurrence is chosen
    among SURVIVORS, so a kept doc never loses its spans to a dropped
    duplicate holding the earlier (doc_id, pos)."""
    kept_ids = curated.where("keep").select("doc_id")
    return span_dedup_rewrite_frame(docs.join(kept_ids, "doc_id"))


def near_dup_pairs(docs):
    """Exact n-gram Jaccard pairs — the shared inverted-index core from
    queries/dedup.py (same function the oracle-checked registry query
    runs).  join_hint is pinned to shuffle_hash rather than left on
    "auto": the job's input is the replicas-expanded frame, whose plan
    size estimate is derived (not parquet file bytes), and this is the
    surface where the 800k-doc SHJ-vs-SMJ matrix was measured."""
    return ngram_jaccard_pairs(docs, join_hint="shuffle_hash")


def run_pipeline(spark, args, out: str) -> None:
    """One full pass of the curation pipeline writing under `out`."""
    from medical_ocr_pipeline_spark.pipeline import write_stage

    t0 = time.time()

    def phase(name: str, since: float) -> float:
        now = time.time()
        print(f"PHASE {name} secs={now - since:.1f}", flush=True)
        return now

    docs = spark.read.parquet(args.input)

    pairs = near_dup_pairs(docs)
    write_stage(pairs, f"{out}/dup_pairs")
    pairs = spark.read.parquet(f"{out}/dup_pairs")
    tp = phase("dup_pairs", t0)

    # near-dup clusters: component label = min doc_id of each Jaccard
    # cluster; representative = min doc_id among the cluster's
    # GATE-PASSING members; final keep = gate verdict AND representative
    from medical_ocr_pipeline_spark.operators.components import (
        dedup_keep_representatives,
    )

    curated = dedup_keep_representatives(curate_documents(docs), pairs)
    tp = phase("components_plan", tp)
    # gate-passing docs that lose the cluster-representative race get a
    # distinct reason so metrics counts reconcile with RESULT kept/dropped
    # (ADVICE r01: 'keep'-reason count used to exceed kept)
    curated = curated.withColumn(
        "reason",
        F.when(
            F.col("keep") & ~F.col("is_representative"), F.lit("near_dup")
        ).otherwise(F.col("reason")),
    ).withColumn("keep", F.col("keep") & F.col("is_representative"))
    write_stage(curated, f"{out}/docs_curated")
    curated = spark.read.parquet(f"{out}/docs_curated")
    tp = phase("docs_curated", tp)

    metrics = (
        curated.groupBy("reason")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_words"), 4).alias("avg_words"),
        )
        .withColumn("run_id", F.lit(args.run_id))
        .withColumn("ts", F.current_timestamp())
    )
    write_stage(metrics, f"{out}/metrics", mode="append")
    tp = phase("metrics", tp)

    extra = ""
    if args.line_dedup:
        rewritten = rewrite_kept(docs, curated)
        write_stage(rewritten, f"{out}/docs_rewritten")
        lines_dropped = (
            spark.read.parquet(f"{out}/docs_rewritten")
            .agg(F.coalesce(F.sum("n_dropped"), F.lit(0)))
            .collect()[0][0]
        )
        extra = f" lines_dropped={lines_dropped}"

    if args.decontaminate:
        decon = decontam_kept(docs, curated)
        write_stage(decon, f"{out}/docs_decontam")
        tokens_decontam = (
            spark.read.parquet(f"{out}/docs_decontam")
            .agg(F.coalesce(F.sum("n_removed"), F.lit(0)))
            .collect()[0][0]
        )
        extra += f" tokens_decontam={tokens_decontam}"

    if args.span_dedup:
        spans = span_dedup_kept(docs, curated)
        write_stage(spans, f"{out}/docs_span_dedup")
        tokens_span_dedup = (
            spark.read.parquet(f"{out}/docs_span_dedup")
            .agg(F.coalesce(F.sum("n_removed"), F.lit(0)))
            .collect()[0][0]
        )
        extra += f" tokens_span_dedup={tokens_span_dedup}"

    n = curated.count()
    kept = curated.where("keep").count()
    n_pairs = spark.read.parquet(f"{out}/dup_pairs").count()
    dt = time.time() - t0
    print(
        f"RESULT docs={n} kept={kept} dropped={n - kept} "
        f"dup_pairs={n_pairs} secs={dt:.1f}{extra}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, lang, source, ...)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="corpus_run")
    ap.add_argument("--line-dedup", action="store_true",
                    help="also write <out>/docs_rewritten: C4-style "
                         "line-level dedup rewrite of the kept docs")
    ap.add_argument("--decontaminate", action="store_true",
                    help="also write <out>/docs_decontam: benchmark-"
                         "contaminated spans removed from the kept docs")
    ap.add_argument("--span-dedup", action="store_true",
                    help="also write <out>/docs_span_dedup: corpus-wide "
                         "duplicated W-word spans removed from the kept "
                         "docs, first occurrence preserved (Lee-et-al "
                         "substring dedup rewrite)")
    args = ap.parse_args()

    from medical_ocr_pipeline_spark.session import get_spark

    spark = get_spark(app=f"corpus:{args.run_id}", master=args.master)
    run_pipeline(spark, args, args.out)
    spark.stop()


if __name__ == "__main__":
    main()
