"""Round-11 registry surface.

The r10-verdict queue, as first-class oracle-checked queries:

- ``token_ngram_contamination`` / ``token_contamination_rollup`` /
  ``token_span_coverage`` — the span-dedup/decontamination family
  re-measured on the TRAINER-VIEW token alphabet (the BPE-ish
  regex tokenizer shared with ``token_count_stats``), at the GPT-3
  appendix-C window of 13 tokens: contamination and duplication are
  judged on what the tokenizer emits, not raw whitespace words.
- ``streaming_span_dedup_equiv`` — the ingest-dedup fold extended
  with the cross-doc span-fingerprint tier, so streaming admission
  and the batch v3 span stage converge on span-level too.
- ``curation_v3_counts_lite`` — the write-free v3 counts report
  (bench-facing; the parquet write stays pinned by the full report
  query and the e2e pytest).
- ``curation_drop_attribution`` — the v3 funnel at (source, stage)
  grain: for every input document the FIRST stage that dropped it
  (or the split it survived into), rolled up per source — the
  observability readout crawl/source policies act on.
- ``keeper_fallback_drops`` — the quality-keeper drop set under a
  PARTIAL quality frame, pinning the r10-ADVICE missing-quality
  fallback (unscored side loses; both unscored → keep-first).
- ``nb_quality_classifier`` — fastText-style quality filtering as a
  multinomial Naive Bayes classifier (curated sources = positive
  class), trained and scored in one job DAG with the floor(ln·1e8)
  fixed-point recipe so the decision is an integer compare in both
  engines.

Determinism: all counts CAST AS BIGINT; every ln that reaches a
projected value or decision is floor-quantized to the 1e-8 grid
(the DSIR/BM25 recipe); md5 fingerprints and span keys are identical
both engines (tokens never contain spaces, so space-joined slices
are collision-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import keep_first_copy, span_coverage, span_fingerprints
from ..session import load_tables
from . import _span_sql, register
from .round10 import _V3_CTES, _V3_DSIR_B, _V3_QUOTA, _V3_SPAN_W, _v3_url_expr

# --------------------------------------------------------------------------
# Trainer-view token alphabet (shared Spark/DuckDB fragments).
# --------------------------------------------------------------------------

_TKC_W = 13  # GPT-3 appendix C decontamination window (13-grams)

# DuckDB twin of operators.text.bpe_ish_tokens
_TOK_SQL = (
    "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')"
)


def _token_span_cte(w: int) -> str:
    """toks/sp CTE prefix: BPE-ish tokens and their *w*-token spans
    with 1-based positions."""
    return f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK_SQL} AS t FROM documents
    ),
    sp AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i:i+{w - 1}], ' ')) AS fp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {w - 2}, 1))) AS u(i)
    )"""


_ISLANDS_SQL = _span_sql.numbered_islands("flg") + "," + _span_sql.coverage_agg(
    "n_spans"
)


# --------------------------------------------------------------------------
# Token-level benchmark contamination (per doc).
# --------------------------------------------------------------------------

_TNC_ORACLE = f"""{_token_span_cte(_TKC_W)},
    ref AS (
      SELECT DISTINCT doc_id AS rid, fp FROM sp WHERE doc_id % 50 = 0
    ),
    flg AS (
      SELECT DISTINCT s.doc_id, s.pos, s.pos + {_TKC_W - 1} AS e
      FROM sp s JOIN ref r ON r.fp = s.fp AND r.rid != s.doc_id
    ),
{_ISLANDS_SQL}
    SELECT d.doc_id,
           CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT)
             AS n_contaminated_spans,
           CAST(COALESCE(a.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
             / CAST(len({_TOK_SQL}) AS DOUBLE) AS contamination,
           CAST(CASE WHEN COALESCE(a.covered_tokens, 0) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@register("token_ngram_contamination", _TNC_ORACLE)
def token_ngram_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-level benchmark decontamination on the TRAINER-VIEW
    token stream: the W=13 window of the GPT-3 appendix, over the
    BPE-ish regex tokens (letters-run / digits-run / single symbol,
    lowercased) instead of raw whitespace words — contamination is
    measured on what the tokenizer actually emits, so punctuation
    and casing differences no longer hide a verbatim benchmark
    inclusion. Same merged-islands exact-coverage semantics as
    `benchmark_span_contamination` (W=8 whitespace twin); reference
    set = every 50th doc, same-id matches excluded."""
    from ..operators.dedup import span_contamination
    from ..operators.text import bpe_ish_tokens

    d = load_tables(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 50 == 0)
    return span_contamination(
        d, ref, "doc_id", "text", window=_TKC_W, tokenizer=bpe_ish_tokens
    )


# --------------------------------------------------------------------------
# Token-level contamination rolled up to the source grain.
# --------------------------------------------------------------------------

_TCR_ORACLE = f"""{_token_span_cte(_TKC_W)},
    ref AS (
      SELECT DISTINCT doc_id AS rid, fp FROM sp WHERE doc_id % 50 = 0
    ),
    flg AS (
      SELECT DISTINCT s.doc_id, s.pos, s.pos + {_TKC_W - 1} AS e
      FROM sp s JOIN ref r ON r.fp = s.fp AND r.rid != s.doc_id
    ),
{_ISLANDS_SQL}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN COALESCE(a.covered_tokens, 0) > 0
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated_docs,
           CAST(SUM(len({_TOK_SQL})) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS BIGINT)
             AS covered_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS DOUBLE)
             / CAST(SUM(len({_TOK_SQL})) AS DOUBLE)
             AS token_contamination_rate
    FROM documents d LEFT JOIN agg a USING (doc_id)
    GROUP BY d.source
    """


@register("token_contamination_rollup", _TCR_ORACLE)
def token_contamination_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`token_ngram_contamination` rolled up to the SOURCE grain —
    the trainer-view twin of `source_contamination_rollup`: per
    source, docs flagged, token mass covered, and the token
    contamination rate a crawl allow/deny policy keys on."""
    from ..operators.dedup import span_contamination
    from ..operators.text import bpe_ish_tokens

    d = load_tables(spark, sf_dir, "documents")
    per_doc = span_contamination(
        d,
        d.filter(F.col("doc_id") % 50 == 0),
        "doc_id",
        "text",
        window=_TKC_W,
        tokenizer=bpe_ish_tokens,
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("covered_tokens") > 0).cast("long"))
            .cast("long")
            .alias("n_contaminated_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("covered_tokens").cast("long").alias("covered_tokens"),
            (
                F.sum("covered_tokens").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("token_contamination_rate"),
        )
    )


# --------------------------------------------------------------------------
# Token-level cross-doc duplicated-text coverage (merged islands).
# --------------------------------------------------------------------------

_TSC_ORACLE = f"""{_token_span_cte(_TKC_W)},
    nd AS (
      SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM sp GROUP BY fp
    ),
    flg AS (
      SELECT s.doc_id, s.pos, s.pos + {_TKC_W - 1} AS e
      FROM sp s JOIN nd USING (fp) WHERE nd.n_docs >= 2
    ),
{_ISLANDS_SQL}
    SELECT d.doc_id,
           CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(a.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
             / CAST(len({_TOK_SQL}) AS DOUBLE) AS coverage
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@register("token_span_coverage", _TSC_ORACLE)
def token_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-text fraction per document on the
    trainer-view token alphabet at W=13 — the token twin of
    `merged_span_coverage` (W=8 whitespace): duplicated windows
    become intervals, chained intervals merge, and the covered total
    is the exact union length in TOKENS, the unit a training-token
    budget is priced in."""
    from ..operators.dedup import merged_span_coverage
    from ..operators.text import bpe_ish_tokens

    d = load_tables(spark, sf_dir, "documents")
    return merged_span_coverage(
        d, "doc_id", "text", window=_TKC_W, tokenizer=bpe_ish_tokens
    )


# --------------------------------------------------------------------------
# Quality-keeper drop set under a PARTIAL quality frame — pins the
# r10-ADVICE missing-quality fallback semantics end to end.
# --------------------------------------------------------------------------

_KFD_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                  FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    seeds AS (SELECT UNNEST(range(0, 8)) AS seed),
    sig AS (
      SELECT doc_id, seed,
             MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS sig
      FROM sh, seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(MIN(sig) || MAX(sig)) AS band_sig
      FROM sig GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    conf AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= 0.8
        AND EXISTS (SELECT 1 FROM cand c
                    WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
    ),
    q AS (SELECT doc_id, len(t) AS q FROM toks WHERE doc_id % 2 = 0)
    SELECT DISTINCT CAST(CASE
      WHEN qa.q IS NULL AND qb.q IS NULL THEN c.id_b
      WHEN qa.q IS NULL THEN c.id_a
      WHEN qb.q IS NULL THEN c.id_b
      WHEN qa.q >= qb.q THEN c.id_b
      ELSE c.id_a END AS BIGINT) AS doc_id
    FROM conf c
    LEFT JOIN q qa ON qa.doc_id = c.id_a
    LEFT JOIN q qb ON qb.doc_id = c.id_b
    """


@register("keeper_fallback_drops", _KFD_ORACLE)
def keeper_fallback_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`..operators.dedup.quality_keeper_drops` fed a quality
    frame that scores only EVEN doc ids — the drop set must apply
    the documented missing-quality fallback per pair (unscored side
    loses; both unscored → classic keep-first, drop the higher id)
    instead of silently losing the pair (the r10-ADVICE inner-join
    bug this query pins against regression)."""
    from ..operators.dedup import minhash_lsh_pairs, quality_keeper_drops

    d = load_tables(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, band_size=2, threshold=0.8
    ).select("id_a", "id_b")
    quality = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("q"),
    )
    return quality_keeper_drops(pairs, quality, "doc_id", "q")


# --------------------------------------------------------------------------
# Write-free v3 counts (the bench-facing lite report).
# --------------------------------------------------------------------------

_V3_ORACLE_LITE = _V3_CTES + """
    SELECT
      CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_input,
      CAST((SELECT COUNT(*) FROM ukeep) AS BIGINT) AS n_url,
      CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_quality,
      CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_exact,
      CAST((SELECT COUNT(*) FROM nr) AS BIGINT) AS n_near,
      CAST((SELECT COUNT(*) FROM sk) AS BIGINT) AS n_span,
      CAST((SELECT COUNT(*) FROM sel) AS BIGINT) AS n_dsir,
      CAST((SELECT COUNT(*) FROM leaked) AS BIGINT) AS n_leaked_fps,
      CAST((SELECT COUNT(*) FROM sp WHERE split = 'train') AS BIGINT)
        AS n_train,
      CAST((SELECT COUNT(*) FROM sp WHERE split = 'val') AS BIGINT)
        AS n_val,
      CAST((SELECT COUNT(*) FROM sp WHERE split = 'test') AS BIGINT)
        AS n_test,
      CAST((SELECT COUNT(*) FROM capped) AS BIGINT) AS n_train_capped
    """

_V3_COUNT_COLS_LITE = [
    "n_input", "n_url", "n_quality", "n_exact", "n_near", "n_span",
    "n_dsir", "n_leaked_fps", "n_train", "n_val", "n_test",
    "n_train_capped",
]


@register("curation_v3_counts_lite", _V3_ORACLE_LITE)
def curation_v3_counts_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v3 stage-count report WITHOUT the parquet write:
    ``n_train_capped`` counts the capped frame directly instead of
    reading back the written files — same 12 numbers, ~0 sink I/O.
    This is the bench-facing form (the full-chain write stays pinned
    by `curation_v3_counts_report` in the driver window and the e2e
    pytest); at 100 TB the counts-only report is the cheap health
    probe a scheduler runs BEFORE committing the write."""
    from ..plans.curation import curate_corpus_v3

    try:
        counts = curate_corpus_v3(
            spark,
            sf_dir,
            None,
            url_expr=_v3_url_expr(),
            quota_per_source=_V3_QUOTA,
            span_window=_V3_SPAN_W,
            dsir_buckets=_V3_DSIR_B,
        )
    finally:
        spark.catalog.clearCache()
    return spark.createDataFrame(
        [tuple(int(counts[c]) for c in _V3_COUNT_COLS_LITE)],
        ", ".join(f"{c} long" for c in _V3_COUNT_COLS_LITE),
    )


# --------------------------------------------------------------------------
# Drop attribution: first stage that dropped each doc, per source.
# --------------------------------------------------------------------------

_CDA_ORACLE = _V3_CTES + """
    , att AS (
      SELECT i.doc_id, i.source,
             CASE
               WHEN u.doc_id IS NULL THEN 'url'
               WHEN qq.doc_id IS NULL THEN 'quality'
               WHEN e.doc_id IS NULL THEN 'exact'
               WHEN n.doc_id IS NULL THEN 'near'
               WHEN s.doc_id IS NULL THEN 'span'
               WHEN d.doc_id IS NULL THEN 'dsir'
               WHEN st.split = 'val' THEN 'kept_val'
               WHEN st.split = 'test' THEN 'kept_test'
               WHEN cp.doc_id IS NULL THEN 'quota'
               ELSE 'kept_train'
             END AS stage
      FROM inj i
      LEFT JOIN ukeep u ON u.doc_id = i.doc_id
      LEFT JOIN q qq ON qq.doc_id = i.doc_id
      LEFT JOIN ex e ON e.doc_id = i.doc_id
      LEFT JOIN nr n ON n.doc_id = i.doc_id
      LEFT JOIN sk s ON s.doc_id = i.doc_id
      LEFT JOIN sel d ON d.doc_id = i.doc_id
      LEFT JOIN sp st ON st.doc_id = i.doc_id
      LEFT JOIN capped cp ON cp.doc_id = i.doc_id
    )
    SELECT source, stage, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM att GROUP BY source, stage
    """


@register("curation_drop_attribution", _CDA_ORACLE)
def curation_drop_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The v3 funnel as a (source, stage, n_docs) attribution
    report: every input document is assigned the FIRST stage that
    dropped it (url / quality / exact / near / span / dsir / quota)
    or the split it survived into (kept_train / kept_val /
    kept_test) — a partition of the input, so the report's row sums
    reconcile with `curation_v3_counts_report` exactly. This is the
    per-source observability readout ("which stage eats which
    source") that crawl quotas and source policies act on.

    Scale shape: the stage frames are the persisted v3 chain; the
    attribution adds one id-projection left-join per stage and one
    bounded (sources × stages) aggregate, collected and returned as
    a local relation so no corpus-sized persist outlives the call
    (the counts-report clearCache discipline)."""
    from ..plans.curation import curate_corpus_v3_frames

    try:
        fr = curate_corpus_v3_frames(
            spark,
            sf_dir,
            url_expr=_v3_url_expr(),
            quota_per_source=_V3_QUOTA,
            span_window=_V3_SPAN_W,
            dsir_buckets=_V3_DSIR_B,
        )
        base = fr["input"].select("doc_id", "source")
        # membership probes against the PERSISTED stage frames only;
        # the dsir stage is derived from `tagged` (tagged == dsir
        # survivors + split), so the un-persisted DSIR scoring plan
        # is never re-evaluated (it cost a second full LM pass —
        # 60 s → ~38 s at sf0.1). The url stage likewise probes the
        # `flags` CHECKPOINT, whose doc_id set is by construction
        # the URL-kept set — probing fr["url"] re-executed the whole
        # URL keep-one window (full scan + shuffle) a second time
        # (r14 persist audit)
        stage_ids = [
            ("url", fr["flags"]),
            ("quality", fr["quality"]),
            ("exact", fr["exact"]),
            ("near", fr["near"]),
            ("span", fr["span"]),
        ]
        att = base
        for name, frame in stage_ids:
            att = att.join(
                frame.select("doc_id", F.lit(1).alias(f"__in_{name}")),
                "doc_id",
                "left",
            )
        att = (
            att.join(
                fr["tagged"].select("doc_id", "split"), "doc_id", "left"
            )
            .join(
                fr["capped"].select(
                    "doc_id", F.lit(1).alias("__in_capped")
                ),
                "doc_id",
                "left",
            )
        )
        stage = (
            F.when(F.col("__in_url").isNull(), "url")
            .when(F.col("__in_quality").isNull(), "quality")
            .when(F.col("__in_exact").isNull(), "exact")
            .when(F.col("__in_near").isNull(), "near")
            .when(F.col("__in_span").isNull(), "span")
            .when(F.col("split").isNull(), "dsir")
            .when(F.col("split") == "val", "kept_val")
            .when(F.col("split") == "test", "kept_test")
            .when(F.col("__in_capped").isNull(), "quota")
            .otherwise("kept_train")
        )
        rows = (
            att.select("source", stage.alias("stage"))
            .groupBy("source", "stage")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .collect()  # bounded: sources × stages
        )
    finally:
        spark.catalog.clearCache()
    return spark.createDataFrame(
        rows, "source string, stage string, n_docs long"
    )


# --------------------------------------------------------------------------
# Naive Bayes quality classifier (fastText-style quality filter).
# --------------------------------------------------------------------------

_NB_POS_SQL = "source IN ('src0', 'src1')"
_NB_LN = "CAST(floor(ln({x}) * 1e8) AS BIGINT)"


_NB_ORACLE = f"""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN {_NB_POS_SQL} THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    tok AS (
      SELECT d.doc_id, l.y, UNNEST(string_split(lower(d.text), ' ')) AS w
      FROM documents d JOIN lab l USING (doc_id)
    ),
    tf AS (
      SELECT doc_id, y, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3
    ),
    model AS (
      SELECT w,
             SUM(CASE WHEN y = 1 THEN tf ELSE 0 END) AS cp,
             SUM(CASE WHEN y = 0 THEN tf ELSE 0 END) AS cn
      FROM tf GROUP BY w
    ),
    tot AS (
      SELECT (SELECT SUM(cp) FROM model) AS np,
             (SELECT SUM(cn) FROM model) AS nn,
             (SELECT COUNT(*) FROM model) AS v,
             (SELECT SUM(y) FROM lab) AS dp,
             (SELECT COUNT(*) FROM lab) AS nd
    ),
    lam AS (
      SELECT m.w,
             {_NB_LN.format(x="CAST(m.cp + 1 AS DOUBLE) / CAST(t.np + t.v AS DOUBLE)")} AS lp,
             {_NB_LN.format(x="CAST(m.cn + 1 AS DOUBLE) / CAST(t.nn + t.v AS DOUBLE)")} AS ln_
      FROM model m CROSS JOIN tot t
    ),
    pri AS (
      SELECT
        {_NB_LN.format(x="CAST(t.dp AS DOUBLE) / CAST(t.nd AS DOUBLE)")} AS pp,
        {_NB_LN.format(x="CAST(t.nd - t.dp AS DOUBLE) / CAST(t.nd AS DOUBLE)")} AS pn
      FROM tot t
    ),
    sc AS (
      SELECT f.doc_id, f.y,
             SUM(f.tf * l.lp) AS sp_,
             SUM(f.tf * l.ln_) AS sn_
      FROM tf f JOIN lam l USING (w)
      GROUP BY 1, 2
    )
    SELECT sc.doc_id,
           CAST(sc.y AS BIGINT) AS label_pos,
           CAST(sc.sp_ + pri.pp AS BIGINT) AS score_pos,
           CAST(sc.sn_ + pri.pn AS BIGINT) AS score_neg,
           CAST(CASE WHEN sc.sp_ + pri.pp > sc.sn_ + pri.pn
                THEN 1 ELSE 0 END AS BIGINT) AS pred_pos
    FROM sc CROSS JOIN pri
    """


@register("nb_quality_classifier", _NB_ORACLE)
def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality filtering (the GPT-3/CCNet recipe:
    classify every crawl document against a curated positive set) as
    a multinomial Naive Bayes classifier, trained and scored in ONE
    job DAG: positive class = the curated sources (src0/src1),
    Laplace-smoothed unigram likelihoods, class priors, decision =
    integer compare of the two floor(ln·1e8) fixed-point log scores
    (the DSIR recipe, so the oracle replays every decision exactly).
    Resubstitution scoring here; production trains on a labeled
    sample and scores the crawl.

    Scale shape: one token explode → (doc, token) tf aggregate; the
    model is a vocabulary-sized frame joined back on the token key
    (shuffle, NOT a broadcast — vocabulary grows with corpus); the
    totals are one-row aggregates. No pair space, no corpus-sized
    driver state."""
    d = load_tables(spark, sf_dir, "documents")
    lab = d.select(
        "doc_id",
        F.col("source").isin("src0", "src1").cast("int").alias("y"),
    )
    tok = (
        d.join(lab, "doc_id")
        .select(
            "doc_id",
            "y",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
    )
    tf = tok.groupBy("doc_id", "y", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    model = tf.groupBy("w").agg(
        F.sum(F.when(F.col("y") == 1, F.col("tf")).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("y") == 0, F.col("tf")).otherwise(0)).alias("cn"),
    )
    # one-row totals — bounded driver collect (centroid discipline)
    t = model.agg(
        F.sum("cp").alias("np"),
        F.sum("cn").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    dtot = lab.agg(
        F.sum("y").alias("dp"), F.count(F.lit(1)).alias("nd")
    ).first()

    def _qln(x):
        return F.floor(F.log(x) * F.lit(1e8)).cast("long")

    lam = model.select(
        "w",
        _qln(
            (F.col("cp") + 1).cast("double")
            / F.lit(float(t["np"] + t["v"]))
        ).alias("lp"),
        _qln(
            (F.col("cn") + 1).cast("double")
            / F.lit(float(t["nn"] + t["v"]))
        ).alias("ln_"),
    )
    pp = F.lit(
        _quantized_ln(dtot["dp"] / dtot["nd"])
    )
    pn = F.lit(
        _quantized_ln((dtot["nd"] - dtot["dp"]) / dtot["nd"])
    )
    return (
        tf.join(lam, "w")
        .groupBy("doc_id", "y")
        .agg(
            F.sum(F.col("tf") * F.col("lp")).alias("sp_"),
            F.sum(F.col("tf") * F.col("ln_")).alias("sn_"),
        )
        .select(
            "doc_id",
            F.col("y").cast("long").alias("label_pos"),
            (F.col("sp_") + pp).cast("long").alias("score_pos"),
            (F.col("sn_") + pn).cast("long").alias("score_neg"),
            ((F.col("sp_") + pp) > (F.col("sn_") + pn))
            .cast("long")
            .alias("pred_pos"),
        )
    )


def _quantized_ln(x: float) -> int:
    """floor(ln(x)·1e8) computed driver-side for the class priors —
    the argument is a ratio of two small integers, identical in both
    engines, so the quantized value matches DuckDB's ln on the same
    double (the monitored floor-quantization recipe)."""
    import math

    return int(math.floor(math.log(x) * 1e8))


# --------------------------------------------------------------------------
# Streaming ingest dedup with the span tier folded in.
# --------------------------------------------------------------------------

_SSD_W = 8
_SSD_BATCHES = 4


def _ssde_oracle(batches: int = _SSD_BATCHES, w: int = _SSD_W) -> str:
    """Unrolled CTE chain for the exact+span streaming admit fold:
    per batch, (1) within-batch exact keep-min, (2) anti-join the
    admitted-fingerprint state, (3) reject docs at least half of
    whose W-token spans are covered by the admitted span state or a
    lower-id same-batch exact survivor, (4) fold admitted docs (and
    their spans) into the state."""
    parts = [
        f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {batches} AS b, md5(text) AS fp,
             string_split(lower(text), ' ') AS t
      FROM documents
    ),
    spx AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[i:i+{w - 1}], ' ')) AS sfp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {w - 2}, 1))) AS u(i)
    ),
    spn AS (SELECT doc_id, COUNT(*) AS ns FROM spx GROUP BY doc_id)"""
    ]
    for k in range(batches):
        anti = (
            f"AND fp NOT IN (SELECT fp FROM stf{k - 1})" if k else ""
        )
        state_cov = (
            f"s.sfp IN (SELECT sfp FROM sts{k - 1}) OR " if k else ""
        )
        parts.append(f""",
    x{k} AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM toks WHERE b = {k} {anti}
      ) WHERE rn = 1
    ),
    c{k} AS (
      SELECT s.doc_id, COUNT(*) AS nc
      FROM spx s JOIN x{k} USING (doc_id)
      WHERE {state_cov}EXISTS (
        SELECT 1 FROM spx s2 JOIN x{k} x2 ON x2.doc_id = s2.doc_id
        WHERE s2.sfp = s.sfp AND s2.doc_id < s.doc_id)
      GROUP BY s.doc_id
    ),
    a{k} AS (
      SELECT x.doc_id, x.fp, {k} AS batch_idx,
             COALESCE(n.ns, 0) AS ns, COALESCE(c.nc, 0) AS nc
      FROM x{k} x
      LEFT JOIN spn n USING (doc_id)
      LEFT JOIN c{k} c USING (doc_id)
      WHERE NOT (COALESCE(n.ns, 0) > 0
                 AND 2 * COALESCE(c.nc, 0) >= COALESCE(n.ns, 0))
    ),
    stf{k} AS (
      {"SELECT fp FROM stf" + str(k - 1) + " UNION ALL " if k else ""}SELECT fp FROM a{k}
    ),
    sts{k} AS (
      {"SELECT sfp FROM sts" + str(k - 1) + " UNION " if k else ""}SELECT DISTINCT s.sfp FROM spx s JOIN a{k} USING (doc_id)
    )""")
    parts.append(f"""
    SELECT doc_id, CAST(batch_idx AS BIGINT) AS batch_idx,
           CAST(ns AS BIGINT) AS n_spans, CAST(nc AS BIGINT) AS n_covered
    FROM ({" UNION ALL ".join(f"SELECT * FROM a{k}" for k in range(batches))})
    """)
    return "".join(parts)


@register("streaming_span_dedup_equiv", _ssde_oracle())
def streaming_span_dedup_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ingest-dedup fold of `streaming_dedup_equiv` extended
    with the cross-doc SPAN tier — streaming admission now applies
    the same span-level test as the batch v3 pipeline: per
    micro-batch, (1) within-batch exact keep-min per fingerprint,
    (2) anti-join the admitted-fingerprint state, (3) REJECT any doc
    at least half of whose W=8-token spans are covered by the
    admitted span-fingerprint state or by a lower-id survivor of the
    same batch (integer 2·covered ≥ total, the v3 span rule), (4)
    fold admitted docs and their spans into the state. Rejected
    docs' spans never enter the state — at-most-once admission at
    BOTH the doc and the span level.

    Steps (1) and (3) call ``keep_first_copy`` and ``span_coverage``,
    as ``curate_increment`` does (the ``..streaming.corpus_ingest``
    admit fold with ``span_window=8``, pinned by pytest), so this
    oracle checks that code — but not its quality gate, LSH tier or
    quota.

    Scale shape per batch: one within-batch fingerprint window, one
    anti-join against the state, then one span window, one flag join
    against the span state and one aggregate — all delta-sized
    except the span-state probe, which at 100 TB reads the
    maintained spans sidecar instead of a state re-projection
    (``plans.sidecars``, pinned end-to-end by the
    ``dedup_sidecar_equiv`` twin of this query)."""
    d = load_tables(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp"), "text"
    )
    # the fold references the span table 3× per batch and each
    # batch's state chains on the previous one — without lineage
    # truncation the lazy DAG re-evaluates the whole prefix per
    # consumer (measured 119s → ~10s at sf0.001). localCheckpoint
    # materializes once per fold step, the dedup_clusters
    # per-round discipline.
    spans_all = span_fingerprints(
        d, "doc_id", "text", _SSD_W
    ).localCheckpoint()

    admitted = None  # (doc_id, fp, n_spans, n_covered, duplicated, batch_idx)
    state_fp = None  # admitted exact fingerprints
    state_sp = None  # admitted span fingerprints
    for k in range(_SSD_BATCHES):
        batch = d.filter(F.pmod("doc_id", F.lit(_SSD_BATCHES)) == k)
        survivors = keep_first_copy(batch, "fp").select("doc_id", "fp")
        if state_fp is not None:
            survivors = survivors.join(state_fp, "fp", "left_anti")
        bsp = spans_all.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        # a doc with no spans has no coverage row: 0 spans, kept
        adm = (
            survivors.join(span_coverage(bsp, state_sp), "doc_id", "left")
            .fillna({"n_spans": 0, "n_covered": 0, "duplicated": False})
            .filter(~F.col("duplicated"))
            .withColumn("batch_idx", F.lit(k).cast("long"))
            .localCheckpoint()  # truncate the per-batch fold lineage
        )
        state_fp = (
            adm.select("fp")
            if state_fp is None
            else state_fp.unionByName(adm.select("fp"))
        )
        asp = spans_all.join(
            adm.select("doc_id"), "doc_id", "left_semi"
        ).select("sfp")
        state_sp = (
            asp.distinct()
            if state_sp is None
            else state_sp.unionByName(asp).distinct()
        )
        admitted = (
            adm if admitted is None else admitted.unionByName(adm)
        )
    return admitted.select("doc_id", "batch_idx", "n_spans", "n_covered")


# --------------------------------------------------------------------------
# Span-dedup threshold sweep: what each drop threshold would cost.
# --------------------------------------------------------------------------

_STS_W = 8
_STS_GRID = (10, 50, 90)

_STS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    ssp AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[i:i+{_STS_W - 1}], ' ')) AS fp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_STS_W - 2}, 1))) AS u(i)
    ),
    smin AS (SELECT fp, MIN(doc_id) AS mn FROM ssp GROUP BY fp),
    per AS (
      SELECT s.doc_id,
             SUM(CASE WHEN m.mn < s.doc_id THEN 1 ELSE 0 END) AS nc,
             COUNT(*) AS ns
      FROM ssp s JOIN smin m USING (fp) GROUP BY s.doc_id
    ),
    nt AS (SELECT doc_id, len(t) AS ntok FROM toks),
    grid AS (SELECT UNNEST([{", ".join(map(str, _STS_GRID))}])
             AS threshold_pct)
    SELECT CAST(g.threshold_pct AS BIGINT) AS threshold_pct,
           CAST(COUNT(CASE WHEN p.nc * 100 >= p.ns * g.threshold_pct
                      THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(CASE WHEN p.nc * 100
                                       >= p.ns * g.threshold_pct
                             THEN nt.ntok END), 0) AS BIGINT)
             AS dropped_tokens
    FROM grid g CROSS JOIN per p JOIN nt USING (doc_id)
    GROUP BY g.threshold_pct
    """


@register("span_threshold_sweep", _STS_ORACLE)
def span_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v3 span-dedup stage's tuning curve: for each candidate
    drop threshold (percent of a doc's W=8-token spans covered by a
    lower-id doc), the documents and token mass the tier would
    remove — the lsh_band_sweep pattern applied to the span tier, so
    the at-least-half default is a measured choice, not a guess. The
    per-doc (covered, total) pair is computed ONCE; the grid is a
    broadcast 3-row dim (integer nc·100 ≥ ns·pct compares, no
    floats)."""
    d = load_tables(spark, sf_dir, "documents")
    per = span_coverage(span_fingerprints(d, "doc_id", "text", _STS_W))
    nt = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("ntok"),
    )
    grid = spark.createDataFrame(
        [(p,) for p in _STS_GRID], "threshold_pct long"
    )
    dropped = (
        F.col("n_covered") * 100 >= F.col("n_spans") * F.col("threshold_pct")
    )
    return (
        per.join(nt, "doc_id")
        .crossJoin(F.broadcast(grid))
        .groupBy("threshold_pct")
        .agg(
            F.count(F.when(dropped, F.lit(1)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(dropped, F.col("ntok"))), F.lit(0)
            )
            .cast("long")
            .alias("dropped_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Epoch-shuffle shard manifest: the dataloader handoff grain.
# --------------------------------------------------------------------------

_ESS_SHARDS = 8

_ESS_ORACLE = f"""
    WITH ep AS (SELECT UNNEST(range(0, 2)) AS epoch),
    keyed AS (
      SELECT ep.epoch, d.doc_id,
             md5(CAST(ep.epoch AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)) AS k
      FROM documents d CROSS JOIN ep
    ),
    ranked AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY epoch ORDER BY k, doc_id) AS pos
      FROM keyed
    ),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(((pos - 1) * {_ESS_SHARDS}) // n.n AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos
    FROM ranked CROSS JOIN n
    GROUP BY 1, 2
    """


@register("epoch_shuffle_shard_manifest", _ESS_ORACLE)
def epoch_shuffle_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The seeded epoch shuffle rolled up to the SHARD manifest a
    distributed dataloader actually consumes: contiguous position
    ranges cut into {_ESS_SHARDS} equal shards per epoch (shard =
    ⌊(pos−1)·S/n⌋), with row count and position bounds per shard —
    resuming worker w of epoch e needs exactly this row. Exercises
    the r11 distributed rank end to end (positions must be a
    gap-free 1..n per epoch for the bounds to tile) plus one bounded
    rollup."""
    from ..operators.sampling import epoch_shuffle

    d = load_tables(spark, sf_dir, "documents")
    n = d.count()  # scalar for the shard cut — one bounded agg
    manifest = epoch_shuffle(d, "doc_id", epochs=2)
    return (
        manifest.withColumn(
            "shard",
            F.expr(f"CAST(((pos - 1) * {_ESS_SHARDS}) DIV {n} AS BIGINT)"),
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("pos").cast("long").alias("min_pos"),
            F.max("pos").cast("long").alias("max_pos"),
        )
    )


# --------------------------------------------------------------------------
# Token-level duplication rolled up to the source grain.
# --------------------------------------------------------------------------

_TDS_ORACLE = f"""{_token_span_cte(_TKC_W)},
    nd AS (
      SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM sp GROUP BY fp
    ),
    flg AS (
      SELECT s.doc_id, s.pos, s.pos + {_TKC_W - 1} AS e
      FROM sp s JOIN nd USING (fp) WHERE nd.n_docs >= 2
    ),
{_ISLANDS_SQL}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN COALESCE(a.covered_tokens, 0) > 0
                      THEN 1 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(len({_TOK_SQL})) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS BIGINT)
             AS covered_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS DOUBLE)
             / CAST(SUM(len({_TOK_SQL})) AS DOUBLE) AS token_dup_rate
    FROM documents d LEFT JOIN agg a USING (doc_id)
    GROUP BY d.source
    """


@register("token_dup_rate_by_source", _TDS_ORACLE)
def token_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`token_span_coverage` rolled up to the SOURCE grain: per
    source, docs carrying cross-doc duplicated token spans and the
    duplicated fraction of the source's token mass — the
    duplication twin of `token_contamination_rollup`, and the number
    a crawl-source dedup policy keys on (a mirror-heavy source gets
    cut at the source tier)."""
    from ..operators.dedup import merged_span_coverage
    from ..operators.text import bpe_ish_tokens

    d = load_tables(spark, sf_dir, "documents")
    per_doc = merged_span_coverage(
        d, "doc_id", "text", window=_TKC_W, tokenizer=bpe_ish_tokens
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("covered_tokens") > 0, F.lit(1)))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("covered_tokens").cast("long").alias("covered_tokens"),
            (
                F.sum("covered_tokens").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("token_dup_rate"),
        )
    )


# --------------------------------------------------------------------------
# Keeper-policy delta: what the r11 quality-keeper default buys.
# --------------------------------------------------------------------------

_KPD_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                  FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    seeds AS (SELECT UNNEST(range(0, 8)) AS seed),
    sig AS (
      SELECT doc_id, seed,
             MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS sig
      FROM sh, seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(MIN(sig) || MAX(sig)) AS band_sig
      FROM sig GROUP BY doc_id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    conf AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= 0.8
        AND EXISTS (SELECT 1 FROM cand c
                    WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
    ),
    nw AS (SELECT doc_id, len(t) AS nw FROM toks)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(CASE WHEN nb.nw > na.nw THEN 1 END) AS BIGINT)
             AS n_disagree,
           CAST(COALESCE(SUM(greatest(nb.nw - na.nw, 0)), 0) AS BIGINT)
             AS words_gain
    FROM conf c
    JOIN nw na ON na.doc_id = c.id_a
    JOIN nw nb ON nb.doc_id = c.id_b
    """


@register("keeper_policy_delta", _KPD_ORACLE)
def keeper_policy_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measures what the r11 keeper-default flip (min_id → quality)
    buys on this corpus: over every LSH-confirmed near-dup pair, the
    pairs where the two policies pick DIFFERENT survivors (the
    longer doc is the later one) and the total word mass the quality
    policy retains that keep-first would discard — the evidence row
    the RefinedWeb/FineWeb keep-the-better-copy practice is adopted
    on."""
    from ..operators.dedup import minhash_lsh_pairs

    d = load_tables(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, band_size=2, threshold=0.8
    ).select("id_a", "id_b")
    nw = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " ")).alias("nw"),
    )
    na = nw.select(F.col("doc_id").alias("id_a"), F.col("nw").alias("__na"))
    nb = nw.select(F.col("doc_id").alias("id_b"), F.col("nw").alias("__nb"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count(F.when(F.col("__nb") > F.col("__na"), F.lit(1)))
            .cast("long")
            .alias("n_disagree"),
            F.coalesce(
                F.sum(
                    F.greatest(
                        F.col("__nb") - F.col("__na"), F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("words_gain"),
        )
    )
