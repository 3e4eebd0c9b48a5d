"""Corpus-construction queries: deterministic splits, vocabulary,
sequence packing — the steps between "clean documents" and "training
batches"."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import deterministic_sample, hash_split
from ..session import load_tables
from . import register

_BUCKET_SQL = (
    "CAST(from_hex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIT::UBIGINT"
    " AS BIGINT)"
)


@register(
    "deterministic_split_counts",
    f"""
    WITH b AS (
      SELECT doc_id,
             {_BUCKET_SQL} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM b GROUP BY 1
    """,
)
def deterministic_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")
    splits = hash_split(d, "doc_id", {"train": 90, "val": 5, "test": 5})
    parts = [
        df.groupBy(F.lit(name).alias("split")).agg(
            F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
        )
        for name, df in splits.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "stable_sample_docs",
    f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             {_BUCKET_SQL} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM b WHERE bucket < 10
    """,
)
def stable_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")
    return deterministic_sample(d, "doc_id", 10).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "stratified_sample_by_lang",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
             ) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count per-stratum sample, ordered by a content hash so
    the pick is stable across runs/partitionings (not `ORDER BY
    random()`)."""
    d = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang")
    )


@register(
    "weighted_source_mixture",
    f"""
    WITH w(source, pct) AS (
      VALUES ('src0', 80), ('src1', 40), ('src2', 20)
    ),
    b AS (
      SELECT doc_id, source,
             {_BUCKET_SQL} % 100 AS bucket
      FROM documents
    )
    SELECT b.doc_id, b.source
    FROM b JOIN w USING (source)
    WHERE b.bucket < w.pct
    """,
)
def weighted_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source inclusion rates (up/down-weighting a data mixture):
    each source keeps its configured percentage, chosen by the same
    stable hash bucket — re-runs and appends keep decisions."""
    from ..operators.sampling import hash_bucket

    d = load_tables(spark, sf_dir, "documents")
    weights = d.sparkSession.createDataFrame(
        [("src0", 80), ("src1", 40), ("src2", 20)], "source string, pct int"
    )
    return (
        d.withColumn("bucket", hash_bucket("doc_id", 100))
        .join(F.broadcast(weights), "source")
        .filter(F.col("bucket") < F.col("pct"))
        .select("doc_id", "source")
    )


@register(
    "benchmark_contamination",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 6, 1))) AS u(i)
    ),
    bench AS (SELECT shingle FROM sh WHERE doc_id < 10),
    hits AS (
      SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared_8grams
      FROM sh s JOIN bench b ON s.shingle = b.shingle
      WHERE s.doc_id >= 10
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shared_8grams FROM hits
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination probe: training docs sharing ≥1 word-8-gram
    with a benchmark set (here: doc_id < 10 stands in for the eval
    suite). The n-gram-overlap check used before training runs; at
    100 TB the benchmark shingle side is tiny → broadcast join.
    """
    from ..operators.dedup import word_shingles

    d = load_tables(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", "text", n=8)
    bench = sh.filter(F.col("doc_id") < 10).select("shingle").distinct()
    return (
        sh.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared_8grams"))
    )


@register(
    "vocabulary_top200",
    """
    SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      FROM documents
    )
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 200
    """,
)
def vocabulary_top200(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(200)
    )


@register(
    "sequence_packing",
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             SUM(len(string_split(text, ' '))) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING
             ) AS cum_before
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(COALESCE(cum_before, 0) // 2048 AS BIGINT) AS bin_id
    FROM t
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget packing: docs in doc_id order are
    assigned to 2048-token bins by cumulative count — the
    deterministic, shuffle-light approximation of first-fit packing
    used to batch training sequences (bins overfill by at most one
    document; exact first-fit needs per-bin state and buys little).
    The concat-and-chunk twin — documents split across fixed
    boundaries, padding-free — is `concat_chunk_packing_report`
    (`queries/round14.py` / `operators.text.pack_sequences`).

    The running token count is a
    :func:`..operators.prefix.distributed_prefix_sum` — a global
    ``Window.orderBy`` would move the whole corpus to one partition
    (single-task OOM at scale); the two-phase form keeps the identical
    answer with the window partitioned by contiguous doc_id buckets.
    """
    from ..operators.prefix import distributed_prefix_sum

    d = load_tables(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    toks = d.select("doc_id", n_tokens.alias("n_tokens"))
    cum = distributed_prefix_sum(
        toks, "doc_id", "n_tokens", out_col="__cum_before", exclusive=True
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("__cum_before") / 2048).alias("bin_id"),
    )


# --------------------------------------------------------------------------
# Composite curation pipeline — the end-to-end corpus pass every
# training-data build runs: quality gate → exact dedup (min-id
# representative) → stable 50% sample → per-source doc/token budget.
# One lazy DAG: the gate and dedup prune BEFORE the token counting,
# so the expensive regexp tokenization touches only surviving docs.
# --------------------------------------------------------------------------
@register(
    "corpus_curation_pipeline",
    f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_words,
             length(replace(lower(text), ' ', '')) AS n_nonspace,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
             length(text) AS n_chars
      FROM documents
    ),
    kept AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN m USING (doc_id)
      WHERE m.n_words >= 20
        AND m.n_nonspace * 1.0 / m.n_words >= 2
        AND m.n_nonspace * 1.0 / m.n_words <= 12
        AND m.n_alpha * 1.0 / m.n_chars > 0.5
    ),
    reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    sampled AS (
      SELECT k.* FROM kept k JOIN reps USING (doc_id)
      WHERE {_BUCKET_SQL} % 100 < 50
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
             AS total_bpe_ish_tokens
    FROM sampled GROUP BY source
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import keep_first_copy
    from ..operators.text import text_quality, token_counts

    d = load_tables(spark, sf_dir, "documents")
    # single corpus scan: quality metrics carry (source, text) through
    # so the keep-gate needs no join back; dedup keeps the min-id row
    # per content fingerprint via a window (one shuffle, no
    # groupBy+join); token counting carries `source` to the final agg.
    kept = (
        text_quality(d, carry_cols=["source", "text"])
        .filter(F.col("keep"))
        .select("doc_id", "source", "text")
    )
    reps = keep_first_copy(kept, F.md5("text"))
    sampled = deterministic_sample(reps, "doc_id", 50)
    return (
        token_counts(sampled, carry_cols=["source"])
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe_ish_tokens").alias("total_bpe_ish_tokens"),
        )
    )
