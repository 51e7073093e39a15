"""Corpus statistics family: the descriptive-statistics queries a
training-data pipeline runs as standing monitors — feature correlation,
categorical independence (lang x source), inequality of the length
distribution (Gini), fixed-size deterministic samples for human eval,
and train/test token-distribution drift.

House discipline (base.py): every float-bearing metric is reported as a
floor-scaled integer computed from identical-operand double expressions
in both engines, so the driver's order-insensitive value hash is exact;
every top-k carries a total tie-break.

Reference analogue: the reference's QA evaluator publishes run-level
descriptive stats and per-engine comparisons
(qa_pipeline_evaluator.py:819-865); this module is the corpus-level
generalization of that monitoring surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from medical_ocr_pipeline_spark.queries.base import (
    MD5_INT48_DUCK,
    MD5_INT48_SPARK,
    WORD_SPLIT,
    load,
    register,
    words_expr,
)

# ---------------------------------------------------------------------------
# Pearson correlation matrix from combinable sums
#
# The multi-feature sibling of ols_chars_vs_words: every pairwise
# Pearson r over k per-doc features needs only the k(k+3)/2 combinable
# sums (Si, Sii, Sij) plus n — ONE map-side-combinable aggregate row
# for the whole corpus, then pure arithmetic.  This is how feature
# drift monitors compute correlation matrices over petabytes without
# MLlib or a second pass.

_CORR_FEATURES_DUCK = f"""
      SELECT CAST(len(list_filter(
               string_split_regex(lower(coalesce(text, '')), '{WORD_SPLIT}'),
               x -> x <> '')) AS BIGINT) AS a,
             CAST(len(list_distinct(list_filter(
               string_split_regex(lower(coalesce(text, '')), '{WORD_SPLIT}'),
               x -> x <> ''))) AS BIGINT) AS b,
             CAST(n_chars AS BIGINT) AS c
      FROM documents
"""

_CORR_PAIRS = [("words~uniq", "a", "b"), ("words~chars", "a", "c"),
               ("uniq~chars", "b", "c")]


def _corr_ppm_duck(x: str, y: str) -> str:
    # HUGEINT moments: n * S_cc ~ 3.7e19 already at a 20M-doc corpus
    # (chars second moment), past BIGINT — mirrored by the Spark
    # side's DECIMAL(38,0) (caught by the x4096 scaling capture)
    n = "CAST(n AS HUGEINT)"
    cov = f"({n} * s{x}{y} - CAST(s{x} AS HUGEINT) * s{y})"
    vx = f"({n} * s{x}{x} - CAST(s{x} AS HUGEINT) * s{x})"
    vy = f"({n} * s{y}{y} - CAST(s{y} AS HUGEINT) * s{y})"
    return (
        f"CAST(FLOOR(CAST({cov} AS DOUBLE) * 1000000.0"
        f" / sqrt(CAST({vx} AS DOUBLE)"
        f" * CAST({vy} AS DOUBLE))) AS BIGINT)"
    )


@register(
    "corr_doc_stats",
    sql=f"""
    WITH d AS ({_CORR_FEATURES_DUCK}),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
             SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(c * c) AS scc,
             SUM(a * b) AS sab, SUM(a * c) AS sac, SUM(b * c) AS sbc
      FROM d
    )
    SELECT * FROM (
      SELECT 'words~uniq' AS pair, n, {_corr_ppm_duck("a", "b")} AS corr_ppm
      FROM s
      UNION ALL
      SELECT 'words~chars' AS pair, n, {_corr_ppm_duck("a", "c")} AS corr_ppm
      FROM s
      UNION ALL
      SELECT 'uniq~chars' AS pair, n, {_corr_ppm_duck("b", "c")} AS corr_ppm
      FROM s
    ) ORDER BY pair
    """,
)
def corr_doc_stats(spark, sf_dir):
    """Pairwise Pearson correlation (exact floor-ppm) between three
    per-doc features — word count, distinct-word count, char count —
    from ONE combinable aggregate of ten BIGINT sums.

    corr = cov / sqrt(vx * vy) with cov/vx/vy the exact integer
    moment combinations; the variance product is computed as
    double(vx) * double(vy) (NOT BIGINT vx*vy, which overflows at
    corpus scale) and both engines evaluate the identical double
    expression, so the floor-ppm hash-matches.

    100 TB shape: one scan, one map-side-combinable global agg to a
    single row, then constant-time arithmetic — the k-feature matrix
    costs k(k+3)/2 sums in the same single pass."""
    return corr_frame(load(spark, sf_dir, "documents"))


def corr_frame(docs):
    """Frame-level core of corr_doc_stats — the form job_monitor.py
    consumes (same oracle-checked dataflow, any documents frame)."""
    w = words_expr()
    d = docs.select(
        F.size(w).cast("long").alias("a"),
        F.size(F.array_distinct(w)).cast("long").alias("b"),
        F.col("n_chars").cast("long").alias("c"),
    )
    s = d.agg(
        F.count("*").alias("n"),
        *[F.sum(x).alias(f"s{x}") for x in "abc"],
        *[
            F.sum(F.col(x) * F.col(y)).alias(f"s{x}{y}")
            for x, y in ("aa", "bb", "cc", "ab", "ac", "bc")
        ],
    )

    def corr_ppm(x, y):
        # DECIMAL(38,0) moments (HUGEINT in the oracle): n * S_cc is
        # ~3.7e19 at a 20M-doc corpus — BIGINT overflows under ANSI
        # (x4096 scaling capture).  The decimal holds the integer
        # exactly, so the final double expression is operand-identical
        # to the oracle's.
        def d(c):
            return F.col(c).cast("decimal(38,0)")

        cov = d("n") * d(f"s{x}{y}") - d(f"s{x}") * d(f"s{y}")
        vx = d("n") * d(f"s{x}{x}") - d(f"s{x}") * d(f"s{x}")
        vy = d("n") * d(f"s{y}{y}") - d(f"s{y}") * d(f"s{y}")
        return F.floor(
            cov.cast("double") * 1000000.0
            / F.sqrt(vx.cast("double") * vy.cast("double"))
        ).cast("long")

    # ONE pass: the three pair rows explode out of the single agg row
    # (a 3-way union of selects over `s` would recompute the aggregate
    # — and rescan the corpus — once per pair)
    return (
        s.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(pair).alias("pair"),
                            F.col("n").alias("n"),
                            corr_ppm(x, y).alias("corr_ppm"),
                        )
                        for pair, x, y in _CORR_PAIRS
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# Chi-square independence: lang x source contingency
#
# "Is language mix independent of crawl source?" — the categorical
# drift check a multi-source ingest runs before reweighting.  Exact
# per-cell table: observed, expected (floor-e6), chi-square
# contribution (floor-ppm); the statistic is the BIGINT-exact sum of
# the contrib column, so a monitor can threshold it downstream.


@register(
    "chi2_lang_source",
    sql="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, SUM(o) AS r FROM c GROUP BY lang),
    ct AS (SELECT source, SUM(o) AS cl FROM c GROUP BY source),
    nt AS (SELECT SUM(o) AS n FROM c),
    j AS (
      SELECT c.lang, c.source, c.o,
             CAST(rt.r AS DOUBLE) * ct.cl / nt.n AS e
      FROM c JOIN rt USING (lang) JOIN ct USING (source), nt
    )
    SELECT lang, source, o,
           CAST(FLOOR(e * 1000000.0) AS BIGINT) AS expected_e6,
           CAST(FLOOR((o - e) * (o - e) * 1000000.0 / e) AS BIGINT)
             AS contrib_ppm
    FROM j ORDER BY lang, source
    """,
)
def chi2_lang_source(spark, sf_dir):
    """Chi-square independence test of the lang x source contingency
    table, reported per cell (observed count, expected count in
    floor-e6, chi-square contribution in floor-ppm).

    Expected counts go through the identical double expression in both
    engines — double(row_total) * col_total / n, never the BIGINT
    product row_total * col_total, which overflows at 10^12 rows.

    100 TB shape: one combinable groupBy to the (langs x sources) cell
    table — a few hundred rows however big the corpus — then two tiny
    re-aggregations of THAT table and broadcast joins back.  The scan
    is the only heavy stage."""
    return chi2_frame(load(spark, sf_dir, "documents"))


def chi2_frame(docs):
    """Frame-level core of chi2_lang_source (job_monitor surface)."""
    c = (
        docs
        .groupBy("lang", "source")
        .agg(F.count("*").alias("o"))
        .persist()
    )
    rt = c.groupBy("lang").agg(F.sum("o").alias("r"))
    ct = c.groupBy("source").agg(F.sum("o").alias("cl"))
    nt = c.agg(F.sum("o").alias("n"))
    e = F.col("r").cast("double") * F.col("cl") / F.col("n")
    j = (
        c.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(nt))
        .withColumn("e", e)
    )
    d = F.col("o") - F.col("e")
    return j.select(
        "lang",
        "source",
        "o",
        F.floor(F.col("e") * 1000000.0).cast("long").alias("expected_e6"),
        F.floor(d * d * 1000000.0 / F.col("e"))
        .cast("long")
        .alias("contrib_ppm"),
    ).orderBy("lang", "source")


# ---------------------------------------------------------------------------
# Gini coefficient of the per-language length distribution
#
# The inequality summary dataset cards publish ("is the corpus a few
# megadocs or many small ones?") and token-budget planners consume.
# Needs a per-group rank over length — computed with the two-phase
# range-partitioned rank (training.global_running_offset's pattern),
# NOT a per-lang window: a single language can be 40% of a 100 TB
# corpus, and Window.partitionBy(lang) would sort all of it in one
# task.

def _ranked_by_lang(d):
    """Append i = 1-based rank of each row within its lang in
    (x, doc_id) order, without a per-lang window: range-partition by
    the full order key (so each task holds a contiguous slice), rank
    locally, then add the per-(partition, lang) prefix counts — one
    broadcast-sized frame of n_parts x n_langs rows.  The range
    partition count follows spark.sql.shuffle.partitions (cluster-
    tuned, never a literal baked into the query body); the result is a
    pure function of the global order (invariance test).

    The ranged slice is MATERIALIZED (eager localCheckpoint) before
    anything derives from it — a correctness requirement, not an
    optimization: repartitionByRange picks its boundaries by SAMPLING
    with an RDD-id-derived seed, so the two consumers of the slice
    (local ranks and the prefix-count table) would otherwise each
    re-execute the exchange and can see DIFFERENT boundaries whenever
    the optimizer does not reuse the exchange (observed under
    job_monitor's persisted-input plan: per-row _pid assignments
    diverged between the two subtrees and the stitched ranks were
    silently wrong; tests/test_job_monitor.py pins the job's gini/KS/MW
    stages row-identical to their registry queries, and
    tests/test_parallelism_invariance.py pins the rank across shuffle
    partition counts).  A plain persist would NOT be enough: a lost
    cache block recomputes under fresh boundaries and corrupts ranks
    silently, whereas the severed-lineage checkpoint fails fast.  The
    materialized projection is the 3-column (lang, x, doc_id) order
    frame, not the corpus text, so the extra write is narrow."""
    n_parts = int(
        d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = (
        d.repartitionByRange(n_parts, "lang", "x", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local_w = Window.partitionBy("_pid", "lang").orderBy("x", "doc_id")
    local = ranged.withColumn("_lrk", F.row_number().over(local_w))
    counts = (
        local.groupBy("_pid", "lang").agg(F.count("*").alias("_cnt"))
    )
    a = counts.alias("a")
    b = counts.alias("b")
    prefix = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("b._pid") < F.col("a._pid")),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"), F.col("a.lang").alias("lang"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_pre"))
    )
    return (
        local.join(F.broadcast(prefix), ["_pid", "lang"])
        .withColumn("i", (F.col("_pre") + F.col("_lrk")).cast("long"))
        .drop("_pid", "_lrk", "_pre")
    )


@register(
    "gini_doc_lengths",
    sql="""
    WITH d AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS x, doc_id FROM documents
    ),
    r AS (
      SELECT lang, x,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x, doc_id) AS i
      FROM d
    ),
    s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM r GROUP BY lang
    )
    SELECT lang, n, sx AS total_chars,
           CAST(FLOOR((2 * six - (n + 1) * sx) * 1000000.0
                      / (CAST(n AS DOUBLE) * sx)) AS BIGINT) AS gini_ppm
    FROM s ORDER BY lang
    """,
)
def gini_doc_lengths(spark, sf_dir):
    """Per-language Gini coefficient of document length via the sorted
    formula G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))
    with i the 1-based rank in (length, doc_id) order — the moment sums
    are BIGINT-exact, the single final division is an identical double
    op in both engines, reported floor-ppm.

    100 TB shape: the rank is the two-phase range-partitioned form
    (rank locally per contiguous range slice + broadcast per-(slice,
    lang) prefix counts, the training.global_running_offset pattern),
    never Window.partitionBy(lang) — one language can dominate a
    production corpus and a per-group window would sort it in one
    task.  After ranking: one combinable groupBy of three sums.  The
    oracle uses the plain window (DuckDB-side scale is the test SF);
    rank equality between the two forms is exactly what the
    partition-count invariance test pins."""
    return gini_frame(load(spark, sf_dir, "documents"))


def gini_frame(docs):
    """Frame-level core of gini_doc_lengths (job_monitor surface)."""
    d = docs.select(
        "lang", F.col("n_chars").cast("long").alias("x"), "doc_id"
    )
    r = _ranked_by_lang(d)
    s = r.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return s.select(
        "lang",
        "n",
        F.col("sx").alias("total_chars"),
        F.floor(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            * 1000000.0
            / (F.col("n").cast("double") * F.col("sx"))
        )
        .cast("long")
        .alias("gini_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Fixed-k deterministic per-group sample
#
# Every eval loop wants "exactly k docs per language, the SAME k docs
# every run / rerun / cluster size" — corpus_rebalance's hash-threshold
# sampler gives a deterministic RATE; this gives a deterministic COUNT
# (rank-k of a salted md5 over doc_id = a reproducible uniform draw
# without replacement).

SAMPLE_K = 20
_SAMPLE_SALTS = 8
_SAMP_H_SPARK = MD5_INT48_SPARK.format(
    x="concat('sample', cast(doc_id as string))"
)
_SAMP_H_DUCK = MD5_INT48_DUCK.format(x="'sample' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_fixed_k",
    sql=f"""
    WITH h AS (
      SELECT lang, doc_id, {_SAMP_H_DUCK} AS hv FROM documents
    ),
    r AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY hv, doc_id) AS rk
      FROM h
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {SAMPLE_K} ORDER BY lang, rk
    """,
)
def sample_fixed_k(spark, sf_dir):
    """Exactly-k-per-language deterministic sample: rank docs by a
    salted 48-bit md5 of doc_id (independent of every other md5-derived
    decision in the pipeline) and keep rank <= k — a reproducible
    uniform-without-replacement draw, stable across reruns, engines and
    cluster sizes, which seeded sampleBy is not.

    100 TB shape: the salted TWO-LEVEL top-k (host_cap_sample /
    bm25_topk precedent) — level 1 ranks within (lang, salt buckets)
    and keeps k per salt, so a language with a billion docs never
    funnels into one window task; level 2 ranks the <= k * n_salts
    survivors.  Exact: any global top-k row is a top-k row of its own
    salt bucket."""
    return sample_frame(load(spark, sf_dir, "documents"))


def sample_frame(docs):
    """Frame-level core of sample_fixed_k (job_monitor surface)."""
    h = docs.select(
        "lang", "doc_id", F.expr(_SAMP_H_SPARK).alias("hv")
    )
    salted = h.withColumn(
        "salt", F.crc32(F.col("doc_id").cast("string")) % _SAMPLE_SALTS
    )
    w1 = Window.partitionBy("lang", "salt").orderBy("hv", "doc_id")
    lvl1 = (
        salted.withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= SAMPLE_K)
    )
    w2 = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        lvl1.withColumn("rk", F.row_number().over(w2).cast("long"))
        .where(F.col("rk") <= SAMPLE_K)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Train/test token-distribution drift (chi-square distance)
#
# The standing monitor behind "did the split leak a domain?" /
# "does test look like train?": per shared token with train count a
# (total A) and test count b (total B), the chi-square distance term
#   (a/A - b/B)^2 / (a/A + b/B)  =  (a*B - b*A)^2 / (A*B * (a*B + b*A))
# is a RATIONAL in the integer counts — exact floor-ppb per token, no
# transcendentals (the reason to prefer it over KL divergence here).

_DRIFT_TOP = 40


def _split_duck() -> str:
    from medical_ocr_pipeline_spark.queries.training import (
        TRAIN_PPM,
        VAL_PPM,
        _H_DUCK,
    )

    return (
        f"CASE WHEN {_H_DUCK} % 1000000 < {TRAIN_PPM} THEN 'train' "
        f"WHEN {_H_DUCK} % 1000000 < {VAL_PPM} THEN 'val' "
        f"ELSE 'test' END"
    )


def _drift_sql() -> str:
    return f"""
    WITH d AS (
      SELECT {_split_duck()} AS split,
             unnest(list_filter(
               string_split_regex(lower(coalesce(text, '')), '{WORD_SPLIT}'),
               x -> x <> '')) AS word
      FROM documents
    ),
    c AS (
      SELECT word,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS a,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
               AS BIGINT) AS b
      FROM d WHERE split <> 'val' GROUP BY word
    ),
    t AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM c),
    k AS (
      SELECT word, a, b,
             CAST(FLOOR(
               CAST(a * tb - b * ta AS DOUBLE) * (a * tb - b * ta)
               * 1000000000.0
               / (CAST(ta AS DOUBLE) * tb * (a * tb + b * ta))
             ) AS BIGINT) AS contrib_ppb
      FROM c, t
    )
    SELECT word, a, b, contrib_ppb
    FROM k ORDER BY contrib_ppb DESC, word LIMIT {_DRIFT_TOP}
    """


@register("split_token_drift", sql=_drift_sql())
def split_token_drift(spark, sf_dir):
    """Top-40 chi-square drift contributors between the train and
    test splits' unigram distributions (same deterministic split hash
    as train_test_split).  The per-token term is the integer-rational
    form (a*B - b*A)^2 / (A*B*(a*B + b*A)) in floor-ppb — exact, no
    logs, so a leak monitor can threshold the sum and diff the top
    table run-over-run.

    100 TB shape: one scan -> token explode -> ONE combinable groupBy
    with conditional sums (no train-frame/test-frame join), a 1-row
    totals broadcast, and a global top-k via TakeOrdered.  The BIGINT
    cross-products a*B overflow past ~3e9 * 3e9 tokens; the production
    variant casts the counts to double before the products (the
    docstringed scale switch), which this query keeps BIGINT-side only
    because the oracle's exactness argument rides on it."""
    return drift_frame(load(spark, sf_dir, "documents"))


def drift_frame(docs):
    """Frame-level core of split_token_drift (job_monitor surface)."""
    from medical_ocr_pipeline_spark.queries.training import split_expr

    d = docs.select(
        split_expr().alias("split"),
        F.explode(words_expr()).alias("word"),
    )
    c = (
        d.where(F.col("split") != "val")
        .groupBy("word")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
        # consumed twice (the broadcast total subquery + the main
        # path): without the persist each consumer re-runs the full
        # corpus tokenize+agg — measured 2x the stage cost at 1.28M
        # docs.  |vocab| rows, bounded.
        .persist()
    )
    t = c.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    num = F.col("a") * F.col("tb") - F.col("b") * F.col("ta")
    den = (
        F.col("ta").cast("double")
        * F.col("tb")
        * (F.col("a") * F.col("tb") + F.col("b") * F.col("ta"))
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "word",
            "a",
            "b",
            F.floor(num.cast("double") * num * 1000000000.0 / den)
            .cast("long")
            .alias("contrib_ppb"),
        )
        .orderBy(F.desc("contrib_ppb"), "word")
        .limit(_DRIFT_TOP)
    )


# ---------------------------------------------------------------------------
# Source-diversity indices (Simpson / HHI / effective source count)
#
# The concentration summary a multi-source corpus card publishes per
# language: is the language's data one crawl or many?  All three
# indices are RATIONALS in the per-(lang, source) counts — exact
# integer division, no floats anywhere.


@register(
    "source_diversity",
    sql="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS ni
      FROM documents GROUP BY lang, source
    ),
    s AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(ni) AS BIGINT) AS n,
             CAST(SUM(ni * ni) AS BIGINT) AS ssq,
             CAST(SUM(ni * (ni - 1)) AS BIGINT) AS spair
      FROM c GROUP BY lang
    )
    SELECT lang, n AS n_docs, n_sources,
           CAST(ssq * 1000000 // (n * n) AS BIGINT) AS hhi_ppm,
           CAST(CASE WHEN n > 1 THEN spair * 1000000 // (n * (n - 1))
                ELSE 1000000 END AS BIGINT) AS simpson_ppm,
           CAST(n * n * 1000 // ssq AS BIGINT) AS eff_sources_e3
    FROM s ORDER BY lang
    """,
)
def source_diversity(spark, sf_dir):
    """Per-language source-concentration indices from one combinable
    groupBy: HHI = sum(share_i^2) in floor-ppm, the unbiased Simpson
    index sum(n_i * (n_i - 1)) / (n * (n - 1)) in floor-ppm, and the
    effective source count (inverse HHI) in milli-units — all exact
    integer divisions on BIGINT moment sums, zero floats.

    100 TB shape: one scan -> one combinable (lang, source) count ->
    one tiny re-aggregation; the BIGINT numerators (ssq * 1e6, n^2 *
    1e3) hold to ~3e6 docs per (lang, source) cell — past that the
    production variant moves the scaling into a double, which this
    query keeps integral because the oracle's exactness rides on it."""
    return diversity_frame(load(spark, sf_dir, "documents"))


def diversity_frame(docs):
    """Frame-level core of source_diversity (job_monitor surface)."""
    c = (
        docs
        .groupBy("lang", "source")
        .agg(F.count("*").alias("ni"))
    )
    s = c.groupBy("lang").agg(
        F.count("*").alias("n_sources"),
        F.sum("ni").alias("n"),
        F.sum(F.col("ni") * F.col("ni")).alias("ssq"),
        F.sum(F.col("ni") * (F.col("ni") - 1)).alias("spair"),
    )
    return s.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.expr("ssq * 1000000 div (n * n)").cast("long").alias("hhi_ppm"),
        F.when(
            F.col("n") > 1,
            F.expr("spair * 1000000 div (n * (n - 1))"),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("simpson_ppm"),
        F.expr("n * n * 1000 div ssq").cast("long").alias("eff_sources_e3"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate of the test split vs the train vocabulary
#
# The companion to split_token_drift: what fraction of test tokens
# (occurrences AND distinct types) does the train split never see?
# High OOV = the split boundary cut a domain in half — the cheap
# standing check before any tokenizer/LM eval on the split.


@register(
    "oov_rate",
    sql=f"""
    WITH d AS (
      SELECT lang, {_split_duck()} AS split,
             unnest(list_filter(
               string_split_regex(lower(coalesce(text, '')), '{WORD_SPLIT}'),
               x -> x <> '')) AS word
      FROM documents
    ),
    trainv AS (SELECT DISTINCT word FROM d WHERE split = 'train'),
    t AS (
      SELECT d.lang, d.word, (trainv.word IS NOT NULL) AS seen
      FROM d LEFT JOIN trainv USING (word)
      WHERE d.split = 'test'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_tokens,
           CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT)
             AS n_oov_tokens,
           CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) * 1000000
                // COUNT(*) AS BIGINT) AS oov_ppm,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_test_types,
           CAST(COUNT(DISTINCT CASE WHEN NOT seen THEN word END)
             AS BIGINT) AS n_oov_types,
           CAST(COUNT(DISTINCT CASE WHEN NOT seen THEN word END) * 1000000
                // COUNT(DISTINCT word) AS BIGINT) AS type_oov_ppm
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def oov_rate(spark, sf_dir):
    """Per-language OOV rate of the test split against the GLOBAL train
    vocabulary (same deterministic split hash as train_test_split):
    token-occurrence OOV and distinct-type OOV, both as exact
    integer-division ppm.

    100 TB shape: one scan -> token explode; the train vocabulary is a
    distinct over train tokens and the membership probe is a LEFT join
    on the word key — both sides shuffle-hash on word (the vocabulary
    of a web corpus is far too large to broadcast; this is the same
    big-side equi-join shape as dedup_incremental's probe), then one
    combinable per-lang aggregate.  No windows, no driver state."""
    return oov_frame(load(spark, sf_dir, "documents"))


def oov_frame(docs):
    """Frame-level core of oov_rate (job_monitor surface).

    One tokenize pass: tokens collapse to the (lang, split, word) TYPE
    table first (combinable partial agg), which is then persisted and
    consumed by both the train-vocabulary side and the test side — the
    original shape derived both from the raw exploded token frame, so
    each consumer re-ran the full corpus tokenize (measured 2x stage
    cost) and the seen-join keyed on TOKENS instead of types.  On the
    type table, (lang, word) is unique per split, so the per-lang type
    counts are plain count(*)/sums — values identical to the
    countDistinct originals (oracle-pinned)."""
    from medical_ocr_pipeline_spark.queries.training import split_expr

    d = docs.select(
        "lang",
        split_expr().alias("split"),
        F.explode(words_expr()).alias("word"),
    )
    g = (
        d.where(F.col("split") != "val")
        .groupBy("lang", "split", "word")
        .agg(F.count("*").cast("long").alias("n"))
        .persist()
    )
    trainv = (
        g.where(F.col("split") == "train").select("word").distinct()
    )
    t = (
        g.where(F.col("split") == "test")
        .join(trainv.withColumn("seen", F.lit(True)), "word", "left")
        .select(
            "lang", "word", "n",
            F.coalesce("seen", F.lit(False)).alias("seen"),
        )
    )
    oov_typ = F.sum(F.when(F.col("seen"), 0).otherwise(1))
    return (
        t.groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_test_tokens"),
            F.sum(F.when(F.col("seen"), 0).otherwise(F.col("n")))
            .cast("long")
            .alias("n_oov_tokens"),
            F.expr(
                "sum(case when seen then 0 else n end) * 1000000"
                " div sum(n)"
            )
            .cast("long")
            .alias("oov_ppm"),
            F.count("*").cast("long").alias("n_test_types"),
            oov_typ.cast("long").alias("n_oov_types"),
            (oov_typ * 1000000).alias("_oovt_scaled"),
        )
        .select(
            "lang",
            "n_test_tokens",
            "n_oov_tokens",
            "oov_ppm",
            "n_test_types",
            "n_oov_types",
            F.expr("_oovt_scaled div n_test_types")
            .cast("long")
            .alias("type_oov_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Exact per-split length quantiles (distribution drift on the quantile
# scale — the companion to split_token_drift's token-level chi-square)

_SPLIT_QS = (25, 50, 75, 90, 99)


@register(
    "split_length_quantiles",
    sql=f"""
    WITH d AS (
      SELECT {_split_duck()} AS split, CAST(n_chars AS BIGINT) AS x, doc_id
      FROM documents
    ),
    r AS (
      SELECT split, x,
             ROW_NUMBER() OVER (PARTITION BY split
                                ORDER BY x, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY split) AS n
      FROM d
    )
    SELECT split, CAST(MAX(n) AS BIGINT) AS n_docs,
           {", ".join(
             f"CAST(MIN(CASE WHEN rk * 100 >= {q} * n THEN x END)"
             f" AS BIGINT) AS p{q}" for q in _SPLIT_QS)}
    FROM r GROUP BY split ORDER BY split
    """,
)
def split_length_quantiles(spark, sf_dir):
    """Exact rank-selected length quantiles (p25/p50/p75/p90/p99) per
    train/val/test split — the quantile-scale drift check next to
    split_token_drift's token-level chi-square: a split boundary that
    cut a long-document domain in half shows up here first.  The
    quantile is the nearest-rank definition (min x with rank*100 >=
    q*n), integer-exact in both engines (the length_quantile_sketch
    precedent).

    100 TB shape: a per-SPLIT window (three fixed partitions).  This is
    the one shape in the stats family where a per-group window is
    acceptable only because the gini-style two-phase rank generalizes
    identically if splits are huge — which they are at 100 TB, so the
    production variant swaps in _ranked_by_lang's pattern keyed on
    split; the query keeps the window form to stay byte-comparable to
    the oracle's definition."""
    return split_quantiles_frame(load(spark, sf_dir, "documents"))


def split_quantiles_frame(docs):
    """Frame-level core of split_length_quantiles (job_monitor)."""
    from medical_ocr_pipeline_spark.queries.training import split_expr

    d = docs.select(
        split_expr().alias("split"),
        F.col("n_chars").cast("long").alias("x"),
        "doc_id",
    )
    wr = Window.partitionBy("split").orderBy("x", "doc_id")
    wn = Window.partitionBy("split")
    r = d.select(
        "split",
        "x",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        r.groupBy("split")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            *[
                F.min(
                    F.when(
                        F.col("rk") * 100 >= F.lit(q) * F.col("n"),
                        F.col("x"),
                    )
                )
                .cast("long")
                .alias(f"p{q}")
                for q in _SPLIT_QS
            ],
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift between deterministic train/test splits
#
# The representation-space drift monitor: per label, the L2 distance
# between the train-split and test-split centroids.  Exactness follows
# the k-means oracle discipline — embeddings quantize to floor(v*1e8)
# BIGINT, per-dim sums are exact integers, the per-dim cross-product
# (st*n_test - ss*n_train) is BIGINT-exact, squares go through
# identical doubles, and the 64 per-dim terms fold IN DIM ORDER in
# both engines (double summation order pinned), so the floor-e6
# distance hash-matches.

_EDRIFT_H_SPARK = MD5_INT48_SPARK.format(
    x="concat('esplit', cast(vec_id as string))"
)
_EDRIFT_H_DUCK = MD5_INT48_DUCK.format(
    x="'esplit' || CAST(vec_id AS VARCHAR)"
)
_EDRIFT_TRAIN_PPM = 800_000
_EDIM = 64


@register(
    "split_centroid_drift",
    sql=f"""
    WITH e AS (
      SELECT label,
             CASE WHEN {_EDRIFT_H_DUCK} % 1000000 < {_EDRIFT_TRAIN_PPM}
               THEN 'train' ELSE 'test' END AS split,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100000000)
                    AS BIGINT)) AS q
      FROM embeddings
    ),
    n AS (
      SELECT label,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_test
      FROM e GROUP BY label
    ),
    d AS (
      SELECT label, split, i AS dim, CAST(SUM(q[i]) AS BIGINT) AS s
      FROM e, range(1, {_EDIM + 1}) r(i)
      GROUP BY label, split, i
    ),
    p AS (
      SELECT tr.label, tr.dim, tr.s AS st, te.s AS ss
      FROM (SELECT * FROM d WHERE split = 'train') tr
      JOIN (SELECT * FROM d WHERE split = 'test') te
        ON te.label = tr.label AND te.dim = tr.dim
    ),
    t AS (
      SELECT p.label,
             list(CAST(p.st * n.n_test - p.ss * n.n_train AS DOUBLE)
                  * CAST(p.st * n.n_test - p.ss * n.n_train AS DOUBLE)
                  ORDER BY p.dim) AS terms
      FROM p JOIN n ON n.label = p.label
      GROUP BY p.label
    )
    SELECT n.label, n.n_train, n.n_test,
           CAST(FLOOR(sqrt(list_aggregate(t.terms, 'sum')) * 1000000.0
                / (CAST(n.n_train AS DOUBLE) * n.n_test * 100000000))
             AS BIGINT) AS dist_e6
    FROM n JOIN t ON t.label = n.label
    WHERE n.n_train > 0 AND n.n_test > 0
    ORDER BY n.label
    """,
)
def split_centroid_drift(spark, sf_dir):
    """Per-label L2 distance between train- and test-split embedding
    centroids (deterministic 80/20 vec_id hash split, salt-independent
    of every other hash decision).  The centroid difference per dim is
    the exact BIGINT cross-product (st * n_test - ss * n_train) over
    floor(v*1e8) quantized sums; squares and the final sqrt go through
    identical doubles with the 64 terms folded in dim order in both
    engines.  Labels missing either split are excluded by the same
    predicate in both engines.

    100 TB shape: one scan -> per-(label, split, dim) combinable BIGINT
    sums (|labels| x 2 x 64 rows however many vectors), a tiny pivot
    join, and a per-label ordered fold over 64 terms.  This is how
    embedding-drift monitors run over billions of vectors without a
    second pass or any vector shuffle."""
    e = load(spark, sf_dir, "embeddings").select(
        "label",
        F.when(
            F.expr(_EDRIFT_H_SPARK) % 1_000_000 < _EDRIFT_TRAIN_PPM,
            F.lit("train"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            " * 100000000) as bigint))"
        ).alias("q"),
    )
    nsp = e.groupBy("label").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    d = (
        e.select(
            "label", "split", F.posexplode("q").alias("dim0", "v")
        )
        .groupBy("label", "split", (F.col("dim0") + 1).alias("dim"))
        .agg(F.sum("v").alias("s"))
    )
    tr = d.where(F.col("split") == "train").select(
        "label", "dim", F.col("s").alias("st")
    )
    te = d.where(F.col("split") == "test").select(
        "label", "dim", F.col("s").alias("ss")
    )
    cross = F.col("st") * F.col("n_test") - F.col("ss") * F.col("n_train")
    p = (
        tr.join(te, ["label", "dim"])
        .join(F.broadcast(nsp), "label")
        .select(
            "label",
            "dim",
            (cross.cast("double") * cross.cast("double")).alias("term"),
        )
    )
    t = p.groupBy("label").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(dim, term))),"
            " cast(0.0 as double), (acc, x) -> acc + x.term)"
        ).alias("ssum")
    )
    return (
        nsp.join(t, "label")
        .where((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .select(
            "label",
            "n_train",
            "n_test",
            F.floor(
                F.sqrt(F.col("ssum"))
                * 1000000.0
                / (
                    F.col("n_train").cast("double")
                    * F.col("n_test")
                    * 100000000
                )
            )
            .cast("long")
            .alias("dist_e6"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD z-scores (the robust companion
# to iqr_outliers' Tukey fences — MAD tolerates 50% contamination where
# the IQR's 25% breaks down)

_MAD_Z_E4 = 35_000  # |robust z| threshold 3.5, scaled e4
_PHI_E4 = 6_745     # 0.6745 (Phi^-1(0.75)), scaled e4


@register(
    "mad_outliers",
    sql=f"""
    WITH d AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS x, doc_id FROM documents
    ),
    r AS (
      SELECT lang, x,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM d
    ),
    med AS (
      SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN rk * 2 >= n THEN x END) AS BIGINT) AS med
      FROM r GROUP BY lang
    ),
    dev AS (
      SELECT d.lang, ABS(d.x - med.med) AS a, d.doc_id, med.med, med.n
      FROM d JOIN med ON med.lang = d.lang
    ),
    rr AS (
      SELECT lang, a, med, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY a, doc_id) AS rk
      FROM dev
    ),
    mad AS (
      SELECT lang, CAST(MAX(med) AS BIGINT) AS med,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN rk * 2 >= n THEN a END) AS BIGINT) AS mad
      FROM rr GROUP BY lang
    )
    SELECT mad.lang, mad.n, mad.med, mad.mad,
           CAST(SUM(CASE WHEN mad.mad > 0
             AND ABS(d.x - mad.med) * {_PHI_E4} > {_MAD_Z_E4} * mad.mad
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM mad JOIN d ON d.lang = mad.lang
    GROUP BY mad.lang, mad.n, mad.med, mad.mad
    ORDER BY mad.lang
    """,
)
def mad_outliers(spark, sf_dir):
    """Robust per-language outlier counts on doc length: nearest-rank
    median, MAD (nearest-rank median of absolute deviations), and the
    count of docs whose robust z-score 0.6745*|x - med| / MAD exceeds
    3.5 (Iglewicz-Hoaglin) — evaluated as the cross-multiplied integer
    predicate |x - med| * 6745 > 35000 * MAD, fully BIGINT-exact.  The
    robust companion to iqr_outliers: MAD keeps its breakdown point at
    50% contamination where quartile fences fail at 25%.  A zero MAD
    (>= half the group at the median) flags nothing, same rule both
    engines.

    100 TB shape: two per-lang rank passes (the gini docstring's
    two-phase range-partitioned form is the megagroup swap-in; the
    window form here stays byte-comparable to the oracle) and one
    combinable count join against the 1-row-per-lang stats frame."""
    d = load(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("x"), "doc_id"
    )
    wr = Window.partitionBy("lang").orderBy("x", "doc_id")
    wn = Window.partitionBy("lang")
    r = d.select(
        "lang",
        "x",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    med = r.groupBy("lang").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(F.col("rk") * 2 >= F.col("n"), F.col("x")))
        .cast("long")
        .alias("med"),
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang",
        (F.abs(F.col("x") - F.col("med"))).alias("a"),
        "doc_id",
        "med",
        "n",
    )
    wa = Window.partitionBy("lang").orderBy("a", "doc_id")
    rr = dev.select(
        "lang", "a", "med", "n", F.row_number().over(wa).alias("rk")
    )
    mad = rr.groupBy("lang").agg(
        F.max("med").cast("long").alias("med"),
        F.max("n").cast("long").alias("n"),
        F.min(F.when(F.col("rk") * 2 >= F.col("n"), F.col("a")))
        .cast("long")
        .alias("mad"),
    )
    out = F.sum(
        F.when(
            (F.col("mad") > 0)
            & (
                F.abs(F.col("x") - F.col("med")) * _PHI_E4
                > _MAD_Z_E4 * F.col("mad")
            ),
            1,
        ).otherwise(0)
    )
    return (
        d.join(F.broadcast(mad), "lang")
        .groupBy("lang", "n", "med", "mad")
        .agg(out.cast("long").alias("n_outliers"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Two-sample rank statistics between the train and test splits
#
# chi2/split_token_drift watch TOKEN drift and split_length_quantiles
# watches a few fixed quantiles; the Kolmogorov-Smirnov D statistic and
# the Mann-Whitney U (with its AUC / common-language effect size) are
# the standard WHOLE-DISTRIBUTION drift tests — both are pure rank
# statistics, so they reduce to exact integer arithmetic over the
# per-(lang, length) count table: no ECDF floats, no normal
# approximation.  D = max |F_train - F_test| evaluated as the
# cross-multiplied BIGINT max |cum_t * n_test - cum_e * n_train|;
# U (x2 to keep tie halves integral) = sum ct * (2*cum_e_prev + ce).
#
# Like split_centroid_drift, these use their OWN salted 80/20 hash
# ('ksplit') instead of training.split_expr: the production 96/2/2
# split leaves ~2 test docs per language at test scale — a degenerate
# sample for a rank test — and a drift monitor wants a balanced
# comparison draw anyway.

_KSPLIT_H_SPARK = MD5_INT48_SPARK.format(
    x="concat('ksplit', cast(doc_id as string))"
)
_KSPLIT_H_DUCK = MD5_INT48_DUCK.format(
    x="'ksplit' || CAST(doc_id AS VARCHAR)"
)
_KSPLIT_TRAIN_PPM = 800_000


def _split_cum_frame(docs):
    """Shared core: per-(lang, distinct length) train/test counts with
    cumulative counts and per-lang totals.  Windows run over the
    AGGREGATED (lang, x) bucket table — |langs| x |distinct lengths|
    rows, bounded by the max document length — never over the raw
    corpus (the event_rate_spikes discipline), so this is scan +
    combinable groupBy + a tiny window at any corpus size."""
    d = docs.select(
        "lang",
        F.when(
            F.expr(_KSPLIT_H_SPARK) % 1_000_000 < _KSPLIT_TRAIN_PPM,
            F.lit("train"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
        F.col("n_chars").cast("long").alias("x"),
    )
    c = d.groupBy("lang", "x").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("ce"),
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("lang")
    return c.select(
        "lang",
        "x",
        "ct",
        "ce",
        F.sum("ct").over(wcum).alias("cum_t"),
        F.sum("ce").over(wcum).alias("cum_e"),
        F.sum("ct").over(wtot).alias("n_t"),
        F.sum("ce").over(wtot).alias("n_e"),
    )


_SPLIT_CUM_DUCK = """
    d AS (
      SELECT lang,
             CASE WHEN {h} % 1000000 < {ppm} THEN 'train'
               ELSE 'test' END AS split,
             CAST(n_chars AS BIGINT) AS x
      FROM documents
    ),
    c AS (
      SELECT lang, x,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
               AS BIGINT) AS ce
      FROM d GROUP BY lang, x
    ),
    cum AS (
      SELECT lang, x, ct, ce,
             SUM(ct) OVER (PARTITION BY lang ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS cum_t,
             SUM(ce) OVER (PARTITION BY lang ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS cum_e,
             SUM(ct) OVER (PARTITION BY lang) AS n_t,
             SUM(ce) OVER (PARTITION BY lang) AS n_e
      FROM c
    )
"""


def _ks_sql() -> str:
    return (
        "WITH "
        + _SPLIT_CUM_DUCK.format(h=_KSPLIT_H_DUCK, ppm=_KSPLIT_TRAIN_PPM)
        + """
    SELECT lang, CAST(MAX(n_t) AS BIGINT) AS n_train,
           CAST(MAX(n_e) AS BIGINT) AS n_test,
           CAST(MAX(ABS(cum_t * n_e - cum_e * n_t)) AS BIGINT) AS d_num,
           CAST(CAST(MAX(ABS(cum_t * n_e - cum_e * n_t)) AS HUGEINT)
                * 1000000
                // GREATEST(MAX(n_t) * MAX(n_e), 1) AS BIGINT) AS ks_ppm
    FROM cum GROUP BY lang
    HAVING MAX(n_t) > 0 AND MAX(n_e) > 0
    ORDER BY lang
    """
    )


@register("ks_split_drift", sql=_ks_sql())
def ks_split_drift(spark, sf_dir):
    """Per-language two-sample Kolmogorov-Smirnov D between the train-
    and test-split document-length distributions.  D is the max
    absolute ECDF gap; with n_t/n_e the split sizes and (cum_t, cum_e)
    the cumulative counts at each distinct length, D = max |cum_t/n_t -
    cum_e/n_e| — evaluated as the cross-multiplied BIGINT
    max |cum_t*n_e - cum_e*n_t| so no division happens until the final
    floor-ppm report.  The supremum over a step-function difference is
    attained at a jump point, so scanning only the distinct observed
    lengths IS the exact statistic.

    100 TB shape: one scan -> combinable (lang, length) counts -> a
    window over the bucket table (bounded by |langs| x max doc length,
    not corpus size) -> combinable per-lang max.  This is how
    distribution-level drift gates run inside a corpus-refresh job
    without sampling or sketches."""
    return ks_frame(load(spark, sf_dir, "documents"))


def ks_frame(docs):
    """Frame-level core of ks_split_drift (job_monitor surface)."""
    cum = _split_cum_frame(docs)
    gap = F.abs(
        F.col("cum_t") * F.col("n_e") - F.col("cum_e") * F.col("n_t")
    )
    return (
        cum.groupBy("lang")
        .agg(
            F.max("n_t").cast("long").alias("n_train"),
            F.max("n_e").cast("long").alias("n_test"),
            F.max(gap).cast("long").alias("d_num"),
            # greatest(..., 1): the post-agg where() filters empty
            # splits, but the division must be self-guarding — relying
            # on the filter being collapsed into the aggregate before
            # ANSI evaluates the div is planner-dependent (the
            # diversity_frame / qa.py guard convention)
            # the cross-multiplied gap is O(n_t * n_e) (~1.8e13 at a
            # 20M-doc corpus): the *1e6 ppm scale overflows BIGINT, so
            # the product runs in DECIMAL(38,0) (HUGEINT in the
            # oracle) — exact integer division either way.  Caught by
            # the x4096 monitor-scaling capture under ANSI mode.
            F.expr(
                "cast(cast(max(abs(cum_t * n_e - cum_e * n_t))"
                " as decimal(38,0)) * 1000000"
                " div greatest(max(n_t) * max(n_e), 1) as bigint)"
            ).alias("ks_ppm"),
        )
        .where((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .orderBy("lang")
    )


def _mw_sql() -> str:
    return (
        "WITH "
        + _SPLIT_CUM_DUCK.format(h=_KSPLIT_H_DUCK, ppm=_KSPLIT_TRAIN_PPM)
        + """
    SELECT lang, CAST(MAX(n_t) AS BIGINT) AS n_train,
           CAST(MAX(n_e) AS BIGINT) AS n_test,
           CAST(SUM(ct * (2 * (cum_e - ce) + ce)) AS BIGINT) AS u2,
           CAST(CAST(SUM(ct * (2 * (cum_e - ce) + ce)) AS HUGEINT)
                * 1000000
                // GREATEST(2 * MAX(n_t) * MAX(n_e), 1) AS BIGINT)
             AS auc_ppm
    FROM cum GROUP BY lang
    HAVING MAX(n_t) > 0 AND MAX(n_e) > 0
    ORDER BY lang
    """
    )


@register("mannwhitney_split", sql=_mw_sql())
def mannwhitney_split(spark, sf_dir):
    """Per-language Mann-Whitney U between train- and test-split
    document lengths, reported as 2U (ties contribute half wins, so
    doubling keeps the statistic BIGINT-exact) plus the common-language
    effect size AUC = U / (n_t * n_e) in floor-ppm — the probability a
    random train doc is longer than a random test doc, i.e. the
    rank-based effect-size companion to ks_split_drift's max-gap test
    (KS detects ANY shape difference; AUC measures stochastic
    dominance).  2U = sum over distinct lengths of
    ct * (2 * cum_e_below + ce): each train doc at length x wins
    against every shorter test doc and half-wins ties.

    100 TB shape: identical to ks_split_drift — the two tests share
    the _split_cum_frame bucket-table core (one scan, combinable
    counts, bounded window), so a monitor job computes both from a
    single pass."""
    return mw_frame(load(spark, sf_dir, "documents"))


def mw_frame(docs):
    """Frame-level core of mannwhitney_split (job_monitor surface)."""
    cum = _split_cum_frame(docs)
    u2t = F.col("ct") * (
        2 * (F.col("cum_e") - F.col("ce")) + F.col("ce")
    )
    return (
        cum.groupBy("lang")
        .agg(
            F.max("n_t").cast("long").alias("n_train"),
            F.max("n_e").cast("long").alias("n_test"),
            F.sum(u2t).cast("long").alias("u2"),
            # greatest guard: same ANSI divide-by-zero rationale as
            # ks_frame above.  2U is O(n_t * n_e), so like ks_ppm the
            # *1e6 ppm scale runs in DECIMAL(38,0)/HUGEINT — BIGINT
            # overflows at a ~20M-doc corpus (x4096 scaling capture).
            F.expr(
                "cast(cast(sum(ct * (2 * (cum_e - ce) + ce))"
                " as decimal(38,0)) * 1000000"
                " div greatest(2 * max(n_t) * max(n_e), 1) as bigint)"
            ).alias("auc_ppm"),
        )
        .where((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .orderBy("lang")
    )
