"""The benchmark's units of work and their correctness checks.

Extraction: the stage sequence ``job.py`` composes, called through the
engine's public functions.  Curation: a fixed set of Catalyst-only
registry queries, collected to pandas as a caller would.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

# Catalyst-only registry queries; each hits an ad-hoc persist or
# localCheckpoint site in queries/ and none has a Python plan node
CURATION_QUERIES = (
    "dedup_ngram_jaccard", "split_token_drift", "oov_rate", "gini_doc_lengths",
    "quality_percentiles", "pack_sequences", "lm_perplexity_buckets",
    "token_head_coverage", "line_dedup",
)

EXTRACT_COLUMNS = (
    "conv_id", "turn_idx", "role", "text_final", "n_blocks", "n_segments",
    "mean_conf", "bytes_stripped", "parse_failures", "n_header", "n_footer",
    "two_col", "variant",
)


def _hash_agg(df):
    """(rows, order-insensitive xxhash64 sum over every column)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def stage_checksum(spark, path: str) -> str:
    n, h = _hash_agg(spark.read.parquet(path))
    return f"{n}:{h}"


def job_pass(spark, input_path: str, out: str, run_id: str, tracer) -> dict:
    """One pass of job.py's stage sequence; returns its wall times."""
    from medical_ocr_pipeline_spark.pipeline import (
        conversation_text,
        extract_transcripts,
        partition_metrics,
        write_stage,
    )

    shutil.rmtree(out, ignore_errors=True)
    clock = time.perf_counter
    with tracer.span("pass"):
        t0 = clock()
        with tracer.span("stage01_write"):
            write_stage(extract_transcripts(spark.read.parquet(input_path)),
                        f"{out}/01_extracted")
        t1 = clock()
        with tracer.span("read_back"):
            extracted = spark.read.parquet(f"{out}/01_extracted")
        with tracer.span("partition_metrics_write"):
            write_stage(partition_metrics(extracted, run_id, "01_extracted"),
                        f"{out}/metrics", mode="append")
        t2 = clock()
        with tracer.span("conversation_text_write"):
            write_stage(conversation_text(extracted), f"{out}/02_conversations")
        t3 = clock()
    return {"pass_s": t3 - t0, "stage01_s": t1 - t0,
            "partition_metrics_s": t2 - t1, "conversation_text_s": t3 - t2}


def ladder(spark, input_path: str, reps: int) -> dict:
    """L0 scan+hash, L1 identity mapInArrow, L2 extract to a hash (no
    write) over the same input; medians of ``reps`` interleaved rounds."""
    from pyspark.sql import functions as F

    from medical_ocr_pipeline_spark.pipeline import extract_transcripts

    def cast_cols(df):
        # the columns, types and casts extract_transcripts sends to Python
        casts = {"conv_id": "string", "turn_idx": "int", "role": "string",
                 "ts": "timestamp_ntz"}
        keep = [c for c in casts if c in df.columns]
        return df.select(*[F.col(c).cast(casts[c]).alias(c) for c in keep], "text")

    def identity(batches):
        yield from batches

    def rungs():
        base = cast_cols(spark.read.parquet(input_path))
        return {
            "L0": base,
            "L1": base.mapInArrow(identity, schema=base.schema),
            "L2": extract_transcripts(spark.read.parquet(input_path)),
        }

    times: dict[str, list[float]] = {"L0": [], "L1": [], "L2": []}
    for _ in range(reps):
        for k, df in rungs().items():
            t0 = time.perf_counter()
            _hash_agg(df)
            times[k].append(time.perf_counter() - t0)
    return {k: statistics.median(v) for k, v in times.items()}


def check_extract(out: str, input_path: str, convs: list[str]) -> tuple[int, int, int]:
    """Replay every turn of the sampled conversations single-process and
    compare each field with the written 01_extracted rows, then compare
    a pure-Python ordered join of those turns with 02_conversations.
    Returns (turns checked, turn mismatches, conversation mismatches)."""
    import duckdb

    from medical_ocr_pipeline_spark.core.extract import extract_turn

    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE sample_convs (conv_id VARCHAR)")
    con.executemany("INSERT INTO sample_convs VALUES (?)", [(c,) for c in convs])
    src = con.execute(
        f"SELECT conv_id, turn_idx, role, text FROM read_parquet('{input_path}/*.parquet') "
        "WHERE conv_id IN (SELECT conv_id FROM sample_convs)"
    ).fetchall()
    cols = ", ".join(EXTRACT_COLUMNS)
    got = {
        (r[0], r[1]): r
        for r in con.execute(
            f"SELECT {cols} FROM read_parquet('{out}/01_extracted/*.parquet') "
            "WHERE conv_id IN (SELECT conv_id FROM sample_convs)"
        ).fetchall()
    }
    convs_got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT conv_id, conv_text, n_turns FROM "
            f"read_parquet('{out}/02_conversations/*.parquet') "
            "WHERE conv_id IN (SELECT conv_id FROM sample_convs)"
        ).fetchall()
    }
    con.close()

    turn_bad = 0
    texts: dict[str, list[tuple[int, str]]] = {}
    for conv_id, turn_idx, role, text in src:
        want = (conv_id, turn_idx, role, *extract_turn(text))
        if got.get((conv_id, turn_idx)) != want:
            turn_bad += 1
        texts.setdefault(conv_id, []).append((turn_idx, want[3]))
    conv_bad = 0
    for conv_id, turns in texts.items():
        turns.sort()
        want = ("\n\n".join(t for _, t in turns), len(turns))
        if convs_got.get(conv_id) != want:
            conv_bad += 1
    return len(src), turn_bad, conv_bad


def query_pass(spark, data_dir: str, names: list[str], tracer) -> tuple[float, dict, dict]:
    """Run the query set once, each query planned then collected.
    Returns (pass seconds, {name: seconds}, {name: pandas result})."""
    from medical_ocr_pipeline_spark.queries import REGISTRY

    clock = time.perf_counter
    per: dict[str, float] = {}
    results: dict = {}
    with tracer.span("pass"):
        t0 = clock()
        for name in names:
            a = clock()
            with tracer.span("query_plan"):
                df = REGISTRY[name].fn(spark, data_dir)
            with tracer.span("query_collect"):
                results[name] = df.toPandas()
            per[name] = clock() - a
        total = clock() - t0
    return total, per, results


def cached_blocks(spark) -> int:
    """Storage blocks still cached in the session (persist and
    localCheckpoint sites that were never released)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.numCachedPartitions()) for i in infos)


def _norm(v) -> str:
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)) or type(v).__module__ == "numpy":
        try:
            f = float(v)
        except (TypeError, ValueError):
            return str(v)
        if f != f:
            return "nan"
        if f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return repr(round(f, 6))
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: columns by name, rows
    sorted, floats compared at 6 decimals (the queries round first)."""
    pdf = pdf[sorted(pdf.columns)]
    kinds = ",".join("i" if pdf[c].dtype.kind == "u" else pdf[c].dtype.kind
                     for c in pdf.columns)
    rows = sorted(tuple(_norm(v) for v in r) for r in pdf.itertuples(index=False))
    h = hashlib.sha256(f"{','.join(pdf.columns)}|{kinds}|{len(rows)}".encode())
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def value_hash_of(hashes: dict[str, str]) -> str:
    """One checksum over a set of named result hashes."""
    h = hashlib.sha256()
    for name in sorted(hashes):
        h.update(f"{name}={hashes[name]};".encode())
    return h.hexdigest()[:16]


def oracle_hashes(data_dir: str, names: list[str], tmp: str) -> dict[str, str]:
    """Value hash of each query's DuckDB oracle over the same table."""
    import duckdb

    from medical_ocr_pipeline_spark.queries import REGISTRY

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}/*.parquet')"
    )
    out = {name: value_hash(con.execute(REGISTRY[name].sql).df()) for name in names}
    con.close()
    return out
