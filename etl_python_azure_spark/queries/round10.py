"""Round-10 registry surface.

- ``curation_v3_counts_report`` — the r09 advice item: the
  RefinedWeb-ordered ``curate_corpus_v3`` composition (URL keep-one →
  Gopher gate → exact dedup → LSH near-dedup → span dedup → DSIR
  gate → split/leakage/quota) had no registry caller; this query runs
  the REAL plan end-to-end and the oracle replays every stage as
  DuckDB CTEs — the composition twin of the per-stage queries
  (`url_domain_dedup_health`, `gopher_quality_report`, `exact_dedup`,
  `minhash_dedup_pairs`, `cross_doc_dup_spans`,
  `dsir_importance_scores`).

Determinism: md5 fingerprints and the `_HASH32` split bucket are
identical both engines; every projected count is CAST(... AS BIGINT)
(DuckDB integer COUNT/SUM → HUGEINT otherwise); the DSIR lambda
reuses the floor(ln·1e8) fixed-point recipe so the sign gate is an
integer compare in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables
from . import _span_sql, register
from .round5 import _HASH32

# --------------------------------------------------------------------------
# curate_corpus_v3 composed stage counts.
#
# The documents table has no URL column, so the query injects one
# deterministically from doc_id (the `url_domain_dedup_health`
# recipe): docs whose id ends in 9 share a canonical URL with id-1
# (~10% URL-duplication), wrapped in scheme / www. / trailing-slash /
# query-string variants so the canonicalizer does real work. The URL
# tier must collapse only those pairs; everything downstream then
# exercises the published RefinedWeb stage order on the survivor set.
# --------------------------------------------------------------------------

_V3_QUOTA = 15  # same as curation_counts_report — bites at every SF
_V3_SPAN_W = 8
_V3_DSIR_B = 1024

_V3_COUNT_COLS = [
    "n_input",
    "n_url",
    "n_quality",
    "n_exact",
    "n_near",
    "n_span",
    "n_dsir",
    "n_leaked_fps",
    "n_train",
    "n_val",
    "n_test",
    "n_train_capped",
]

# one shared SQL fragment: the injected URL (base id = doc_id, except
# ids ending in 9 which borrow id-1's base → pairwise URL duplicates)
_V3_URL_SQL = """
      (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
      || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
      || 'h' || CAST((doc_id - (CASE WHEN doc_id % 10 = 9 THEN 1
                                ELSE 0 END)) % 25 AS VARCHAR)
      || '.example.com/p/'
      || CAST(doc_id - (CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END)
              AS VARCHAR)
      || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
      || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END)
"""

# the full v3 chain as a reusable CTE prefix: the counts reports
# (this module and round11's write-free lite form) and the
# drop-attribution funnel (round11) each append their own final
# SELECT
_V3_CTES = f"""
    WITH inj AS (
      SELECT doc_id, source, lang, text, {_V3_URL_SQL} AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, source, lang, text,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '^https?://', ''), '[?#].*$', ''),
               '^www\\.', ''), '/$', '') AS u
      FROM inj
    ),
    ukeep AS MATERIALIZED (
      SELECT doc_id, source, lang, text FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY u ORDER BY doc_id) AS urn
        FROM canon
      ) WHERE urn = 1
    ),
    t AS (
      SELECT doc_id, source, lang, text,
             string_split(lower(text), ' ') AS w
      FROM ukeep
    ),
    f AS (
      SELECT doc_id, source, lang, text,
             len(w) AS nw,
             list_reduce(list_transform(w, s -> length(s)),
                         (a, b) -> a + b) AS nchars,
             len(list_filter(w,
                 s -> list_contains(['the', 'a', 'of', 'and', 'to',
                                     'in', 'is', 'be'], s))) AS nstop,
             len(list_distinct(w)) AS ndist
      FROM t
    ),
    q AS MATERIALIZED (
      SELECT doc_id, source, lang, text FROM f
      WHERE nw >= 10 AND nw <= 100000
        AND nchars * 1.0 / nw >= 2.0 AND nchars * 1.0 / nw <= 10.0
        AND nstop * 1.0 / nw >= 0.02
        AND ndist * 1.0 / nw >= 0.2
    ),
    ex AS MATERIALIZED (
      SELECT doc_id, source, lang, text FROM (
        SELECT doc_id, source, lang, text,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    extoks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tt FROM ex
    ),
    esh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(tt[i:i+2], ' ') AS shingle
      FROM extoks, UNNEST(range(1, greatest(len(tt) - 1, 1))) AS u(i)
    ),
    esz AS (SELECT doc_id, COUNT(*) AS sz FROM esh GROUP BY doc_id),
    seeds AS (SELECT UNNEST(range(0, 8)) AS seed),
    sig AS (
      SELECT doc_id, seed,
             MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS sig
      FROM esh, seeds GROUP BY doc_id, seed
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
      FROM esh a JOIN esh b ON a.shingle = b.shingle
                            AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dupd AS (
      -- quality keeper (the r11 default): drop the lower-word-count
      -- side of every verified pair, ties to the higher id
      SELECT DISTINCT CASE WHEN fa.nw >= fb.nw THEN i.id_b
                           ELSE i.id_a END AS doc_id
      FROM inter i
      JOIN esz sa ON sa.doc_id = i.id_a
      JOIN esz sb ON sb.doc_id = i.id_b
      JOIN f fa ON fa.doc_id = i.id_a
      JOIN f fb ON fb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= 0.8
        AND EXISTS (SELECT 1 FROM cand c
                    WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
    ),
    nr AS MATERIALIZED (
      SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dupd)
    ),
    ntoks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM nr
    ),
    ssp AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[i:i+{_V3_SPAN_W - 1}], ' ')) AS fp
      FROM ntoks,
           UNNEST(range(1, greatest(len(t) - {_V3_SPAN_W - 2}, 1))) AS u(i)
    ),
    smin AS (SELECT fp, MIN(doc_id) AS mn FROM ssp GROUP BY fp),
    sdrop AS (
      SELECT s.doc_id
      FROM ssp s JOIN smin m USING (fp)
      GROUP BY s.doc_id
      HAVING 2 * SUM(CASE WHEN m.mn < s.doc_id THEN 1 ELSE 0 END)
             >= COUNT(*)
    ),
    sk AS MATERIALIZED (
      SELECT * FROM nr WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)
    ),
    sktoks AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM sk
    ),
    feats AS (
      SELECT doc_id, lang, f FROM sktoks, UNNEST(t) AS u(f)
      UNION ALL
      SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS f
      FROM sktoks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
    ),
    fb AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(from_hex(substr(md5(f), 1, 8))::BIT::UBIGINT AS BIGINT)
               % {_V3_DSIR_B} AS b
      FROM feats
    ),
    rc AS (SELECT b, COUNT(*) AS cr FROM fb GROUP BY b),
    tc AS (SELECT b, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY b),
    tot AS (
      SELECT (SELECT COUNT(*) FROM fb) AS rtot,
             (SELECT COUNT(*) FROM fb WHERE lang = 'en') AS ttot
    ),
    model AS (
      SELECT rc.b,
             CAST(floor(ln(
               CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE)
               / CAST(tot.ttot + {_V3_DSIR_B} AS DOUBLE)) * 1e8) AS BIGINT)
           - CAST(floor(ln(
               CAST(rc.cr + 1 AS DOUBLE)
               / CAST(tot.rtot + {_V3_DSIR_B} AS DOUBLE)) * 1e8) AS BIGINT)
             AS lam
      FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
    ),
    dsel AS (
      SELECT f.doc_id
      FROM fb f JOIN model m ON m.b = f.b
      GROUP BY f.doc_id HAVING SUM(m.lam) > 0
    ),
    sel AS MATERIALIZED (
      SELECT sk.* FROM sk JOIN dsel USING (doc_id)
    ),
    sp AS MATERIALIZED (
      SELECT doc_id, source, text,
             CASE WHEN ({_HASH32.format(e='doc_id')} % 100) < 90
                    THEN 'train'
                  WHEN ({_HASH32.format(e='doc_id')} % 100) < 95
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM sel
    ),
    ps AS (SELECT DISTINCT md5(text) AS fp, split FROM sp),
    leaked AS (SELECT fp FROM ps GROUP BY fp HAVING COUNT(*) > 1),
    capped AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM sp WHERE split = 'train'
      ) WHERE rk <= {_V3_QUOTA}
    )
"""

_V3_ORACLE = _V3_CTES + """
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


def _v3_url_expr() -> F.Column:
    """The injected URL Column (Spark twin of ``_V3_URL_SQL``)."""
    base = F.col("doc_id") - F.when(
        F.col("doc_id") % 10 == 9, F.lit(1)
    ).otherwise(F.lit(0))
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("h"),
        (base % 25).cast("string"),
        F.lit(".example.com/p/"),
        base.cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )


@register("curation_v3_counts_report", _V3_ORACLE)
def curation_v3_counts_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end stage counts of the RefinedWeb-ordered
    ``curate_corpus_v3`` composition under the driver gate: runs the
    REAL plan (URL keep-one on the injected URL → Gopher gate →
    exact dedup → LSH near-dedup → span dedup at W=8 → DSIR English
    gate → hash split → leakage audit → per-source quota →
    partitioned scratch write) and returns its 12-count report as
    one row; the oracle replays the full chain as CTEs. The
    per-stage queries verify each tier in isolation — here the
    COMPOSITION (stage order, survivor handoff, keeper policies) is
    what's proven."""
    import shutil
    import tempfile

    from ..plans.curation import curate_corpus_v3

    sink = tempfile.mkdtemp(prefix="spark_graft_curation_v3_")
    try:
        counts = curate_corpus_v3(
            spark,
            sf_dir,
            sink,
            url_expr=_v3_url_expr(),
            quota_per_source=_V3_QUOTA,
            span_window=_V3_SPAN_W,
            dsir_buckets=_V3_DSIR_B,
        )
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(sink, ignore_errors=True)
    return spark.createDataFrame(
        [tuple(int(counts[c]) for c in _V3_COUNT_COLS)],
        ", ".join(f"{c} long" for c in _V3_COUNT_COLS),
    )


# --------------------------------------------------------------------------
# Character-n-gram-profile language ID (Cavnar & Trenkle) — the
# upgrade over stopword-hit voting: trigram profiles per labeled
# language, rank-weighted out-of-place scoring, integer-exact.
# --------------------------------------------------------------------------

_LID_N = 3
_LID_K = 200

_LID_ORACLE = f"""
    WITH g AS (
      SELECT doc_id, lang, substr(lower(text), i, {_LID_N}) AS gram
      FROM documents,
           UNNEST(range(1, greatest(length(lower(text)) - {_LID_N - 2}, 1)))
             AS u(i)
    ),
    pc AS (SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
    prof AS (
      SELECT lang AS cand_lang, gram, {_LID_K + 1} - rnk AS weight
      FROM (
        SELECT lang, gram, cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY lang ORDER BY cnt DESC, gram) AS rnk
        FROM pc
      ) WHERE rnk <= {_LID_K}
    ),
    tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2),
    sc AS (
      SELECT t.doc_id, p.cand_lang, SUM(t.tf * p.weight) AS score
      FROM tf t JOIN prof p USING (gram) GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, cand_lang, score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
      FROM sc
    )
    SELECT d.doc_id,
           COALESCE(b.cand_lang, 'und') AS lang_guess,
           CAST(COALESCE(b.score, 0) AS BIGINT) AS score,
           d.lang AS lang_true,
           CAST(CASE WHEN COALESCE(b.cand_lang, 'und') = d.lang
                THEN 1 ELSE 0 END AS BIGINT) AS is_correct
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """


@register("lang_id_ngram_profile", _LID_ORACLE)
def lang_id_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID over the labeled corpus
    (:func:`..operators.text.language_id_ngram`): top-200 trigram
    profile per language, rank-weighted Cavnar–Trenkle scoring,
    winner by (score desc, lang asc). All-integer scores so the
    oracle replays the argmax exactly; the profile table is a
    |langs|x200 broadcast dim — at 100 TB the corpus pays one
    explode and one per-doc aggregate, nothing pairwise."""
    from ..operators.text import language_id_ngram

    d = load_tables(spark, sf_dir, "documents")
    return language_id_ngram(
        d, "doc_id", "text", "lang", n=_LID_N, profile_size=_LID_K
    )


# --------------------------------------------------------------------------
# Merged-interval span coverage — the exact duplicated-text fraction
# (union of duplicated W-token windows), refining cross_doc_dup_spans
# span counting via gaps-and-islands interval merging.
# --------------------------------------------------------------------------

_MSC_W = 8

_MSC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sp AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i:i+{_MSC_W - 1}], ' ')) AS fp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_MSC_W - 2}, 1))) AS u(i)
    ),
    nd AS (
      SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM sp GROUP BY fp
    ),
    dup AS (
      SELECT s.doc_id, s.pos, s.pos + {_MSC_W - 1} AS e
      FROM sp s JOIN nd USING (fp) WHERE nd.n_docs >= 2
    ),{_span_sql.numbered_islands('dup')},{_span_sql.coverage_agg('n_dup_spans')}
    SELECT d.doc_id,
           CAST(len(string_split(lower(d.text), ' ')) AS BIGINT)
             AS n_tokens,
           CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(a.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
             / CAST(len(string_split(lower(d.text), ' ')) AS DOUBLE)
             AS coverage
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@register("merged_span_coverage", _MSC_ORACLE)
def merged_span_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-text fraction per document at W=8: duplicated
    windows become intervals, overlapping intervals merge
    (gaps-and-islands), and the covered-token union — not the span
    count — is reported (:func:`..operators.dedup
    .merged_span_coverage`). A 20-token repeat counts 20 covered
    tokens here vs 13 windows in `cross_doc_dup_spans` — the
    doc-level number Lee et al. report as fraction-of-text-removed."""
    from ..operators.dedup import merged_span_coverage

    d = load_tables(spark, sf_dir, "documents")
    return merged_span_coverage(d, "doc_id", "text", window=_MSC_W)


# --------------------------------------------------------------------------
# Quality-aware near-dup keeper: per confirmed pair, the HIGHER-word-
# count side survives (ties: lower id) — the RefinedWeb-style
# keep-the-better-copy policy, exposed pair-by-pair so the oracle
# verifies every keeper decision, not just the survivor count.
# --------------------------------------------------------------------------

_QK_ORACLE = """
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
    SELECT c.id_a, c.id_b,
           CAST(na.nw AS BIGINT) AS n_words_a,
           CAST(nb.nw AS BIGINT) AS n_words_b,
           CAST(CASE WHEN na.nw >= nb.nw THEN c.id_a ELSE c.id_b END
                AS BIGINT) AS keeper_id,
           CAST(CASE WHEN na.nw >= nb.nw THEN c.id_b ELSE c.id_a END
                AS BIGINT) AS dropped_id
    FROM conf c
    JOIN nw na ON na.doc_id = c.id_a
    JOIN nw nb ON nb.doc_id = c.id_b
    """


@register("quality_keeper_dedup", _QK_ORACLE)
def quality_keeper_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every LSH-confirmed near-dup pair with its quality-aware
    keeper decision: word counts both sides, keeper = the longer doc
    (ties: lower id), dropped = the other (:func:`..operators.dedup
    .quality_keeper_drops` inverts this into the pipeline's drop
    set; `curate_corpus(keeper='quality')` applies it). The pair
    grain makes each decision oracle-checkable — the counts-only
    form would pass even with a/b swapped."""
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
    keep_a = F.col("__na") >= F.col("__nb")
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("__na").cast("long").alias("n_words_a"),
            F.col("__nb").cast("long").alias("n_words_b"),
            F.when(keep_a, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .cast("long")
            .alias("keeper_id"),
            F.when(keep_a, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .cast("long")
            .alias("dropped_id"),
        )
    )


# --------------------------------------------------------------------------
# Gopher repetition-filter family: top-n-gram char fraction (n=2..4)
# and duplicated-n-gram char fraction (n=5..7) — within-doc
# boilerplate signals, zero-shuffle (per-row sorted-array folds).
# --------------------------------------------------------------------------


def _grf_n_cte(n: int) -> str:
    return f"""
    c{n} AS (
      SELECT doc_id, g, COUNT(*) AS c, length(g) - {n - 1} AS ch
      FROM (
        SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS g
        FROM toks,
             UNNEST(range(1, greatest(len(t) - {n - 2}, 1))) AS u(i)
      ) GROUP BY doc_id, g
    ),
    a{n} AS (
      SELECT doc_id, SUM(c * ch) AS total,
             SUM(CASE WHEN c >= 2 THEN c * ch ELSE 0 END) AS dup,
             MAX(c * ch) AS top
      FROM c{n} GROUP BY doc_id
    )"""


def _grf_frac(n: int, kind: str) -> str:
    return (
        f"CASE WHEN COALESCE(a{n}.total, 0) > 0 THEN "
        f"CAST(a{n}.{kind} AS DOUBLE) / CAST(a{n}.total AS DOUBLE) "
        f"ELSE 0.0 END"
    )


_GRF_ORACLE = (
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),"""
    + ",".join(_grf_n_cte(n) for n in (2, 3, 4, 5, 6, 7))
    + """
    SELECT d.doc_id,
           CAST(len(string_split(lower(d.text), ' ')) AS BIGINT)
             AS n_words,
    """
    + ",".join(
        f"{_grf_frac(n, 'top')} AS top{n}_char_frac" for n in (2, 3, 4)
    )
    + ","
    + ",".join(
        f"{_grf_frac(n, 'dup')} AS dup{n}_char_frac" for n in (5, 6, 7)
    )
    + """
    FROM documents d
    """
    + " ".join(f"LEFT JOIN a{n} ON a{n}.doc_id = d.doc_id" for n in (2, 3, 4, 5, 6, 7))
)


@register("gopher_repetition_fractions", _GRF_ORACLE)
def gopher_repetition_fractions_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The complete Gopher repetition-filter table (Rae et al. 2021
    Table A1): per doc, the char fraction of the most frequent word
    n-gram (n=2,3,4) and of all duplicated word n-grams (n=5,6,7).
    Every statistic is a run-length fold over the row's sorted
    n-gram array (:func:`..operators.text
    .gopher_repetition_fractions`) — ONE scan, ZERO shuffles, vs the
    oracle's six explode+groupBy replays. Integer char masses, so
    the fractions are a single identical division both engines."""
    from ..operators.text import gopher_repetition_fractions

    d = load_tables(spark, sf_dir, "documents")
    return gopher_repetition_fractions(d, "doc_id", "text")


# --------------------------------------------------------------------------
# CCNet perplexity buckets: per-language head/middle/tail tiers by
# the unigram-LM quality score (Wenzek et al. 2020).
# --------------------------------------------------------------------------

_CCNET_ORACLE = """
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    f AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    lp AS (
      SELECT t.doc_id, ln(f.c / CAST(tot.n AS DOUBLE)) AS lp
      FROM toks t JOIN f USING (token), tot
    ),
    sc AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             list_reduce(list(lp ORDER BY lp), (acc, v) -> acc + v)
               / COUNT(*) AS avg_logprob
      FROM lp GROUP BY doc_id
    ),
    b AS (
      SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob,
             NTILE(3) OVER (
               PARTITION BY d.lang
               ORDER BY s.avg_logprob DESC, s.doc_id) AS bucket
      FROM sc s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           avg_logprob,
           CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket = 1 THEN 'head'
                WHEN bucket = 3 THEN 'tail'
                ELSE 'middle' END AS bucket_label
    FROM b
    """


@register("ccnet_perplexity_buckets", _CCNET_ORACLE)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers: per-language NTILE(3)
    over the unigram-LM avg_logprob (desc, doc_id tiebreak) —
    :func:`..operators.text.perplexity_buckets`. The score is the
    sorted-fold double sum the green unigram_logprob_scores query
    certifies bit-exact, so the bucket cut replays identically in
    DuckDB."""
    from ..operators.text import perplexity_buckets

    d = load_tables(spark, sf_dir, "documents")
    return perplexity_buckets(d, "doc_id", "text", "lang", n_buckets=3)


# --------------------------------------------------------------------------
# Hard-negative mining: per query, the top-k most-similar vectors
# with a DIFFERENT label (contrastive-training negatives).
# --------------------------------------------------------------------------

_HNM_ORACLE = """
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, v) -> acc + v)) AS nrm
      FROM embeddings
    ),
    sims AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             list_reduce(
               list_transform(range(1, 65),
                 i -> CAST(q.embedding[i] AS DOUBLE)
                      * CAST(c.embedding[i] AS DOUBLE)),
               (acc, v) -> acc + v) / (q.nrm * c.nrm) AS cosine
      FROM n q JOIN n c
        ON c.vec_id != q.vec_id AND c.label != q.label
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """


@register("hard_negative_mining", _HNM_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives for the first 10 vectors: exact
    top-5 cosine neighbors restricted to a DIFFERENT label
    (:func:`..operators.similarity.hard_negative_topk`) — the DPR
    mining pass. Same double-fold cosine kernel the green ANN
    queries certify bit-exact; the label gate prunes before the
    dot product."""
    from ..operators.similarity import hard_negative_topk

    em = load_tables(spark, sf_dir, "embeddings")
    return hard_negative_topk(
        em, em.filter(F.col("vec_id") < 10), k=5
    )


# --------------------------------------------------------------------------
# Epoch shuffle manifest: seeded deterministic global training order.
# --------------------------------------------------------------------------

_ESM_ORACLE = """
    WITH ep AS (SELECT UNNEST(range(0, 2)) AS epoch),
    keyed AS (
      SELECT ep.epoch, d.doc_id,
             md5(CAST(ep.epoch AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)) AS k
      FROM documents d CROSS JOIN ep
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY epoch ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    """


@register("epoch_shuffle_manifest", _ESM_ORACLE)
def epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two epochs of the seeded global shuffle
    (:func:`..operators.sampling.epoch_shuffle`): position = rank of
    md5('{epoch}:'||id) — reproducible training order (resumable
    mid-epoch) with decorrelated permutations across epochs. Since
    r11 the rank is distributed (md5-prefix range buckets + broadcast
    offsets — no single-task-per-epoch sort), positions unchanged;
    the canonical pre-training data-loader job."""
    from ..operators.sampling import epoch_shuffle

    d = load_tables(spark, sf_dir, "documents")
    return epoch_shuffle(d, "doc_id", epochs=2)


# --------------------------------------------------------------------------
# Streaming ingest-dedup equivalence: exact dedup with a fingerprint
# state store, folded across deterministic micro-batches — the
# at-most-once-admission invariant as a batch-expressible oracle
# (the streaming_equiv module's recipe applied to dedup-at-ingest).
# --------------------------------------------------------------------------

_SDE_ORACLE = """
    WITH arr AS (
      SELECT doc_id, md5(text) AS fp, doc_id % 4 AS batch_idx
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, fp, batch_idx,
             ROW_NUMBER() OVER (
               PARTITION BY fp ORDER BY batch_idx, doc_id) AS rn
      FROM arr
    )
    SELECT doc_id, fp, CAST(batch_idx AS BIGINT) AS batch_idx
    FROM ranked WHERE rn = 1
    """


@register("streaming_dedup_equiv", _SDE_ORACLE)
def streaming_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup replayed as a 4-micro-batch fold: each
    batch dedupes within itself (keep-min id per fingerprint) and
    anti-joins the accumulated fingerprint STATE before admission —
    exactly what a foreachBatch dedup sink with a fingerprint table
    does per epoch (:func:`..streaming.pipeline.deduped_stream` is
    the bounded-state watermark form of the same ingest dedup).
    Any admitted fingerprint is admitted at most once, and the final
    admitted set must equal "first arrival per fingerprint" in
    (batch, id) order — the oracle states that direct form. The fold
    is what's tested: a bug that re-admits a fingerprint in a later
    batch, or drops a first arrival, breaks the multiset equality.

    Scale shape per batch: one within-batch fingerprint window +
    one anti-join of the batch against the state (at 100 TB the
    state is a bucketed fingerprint table co-partitioned with the
    probe — delta-sized work per batch, the
    ``incremental_dedup_pairs`` discipline at the exact tier)."""
    d = load_tables(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    from ..operators.dedup import keep_first_copy

    admitted = None
    for i in range(4):
        batch = keep_first_copy(
            d.filter(F.pmod("doc_id", F.lit(4)) == i), "fp"
        ).withColumn("batch_idx", F.lit(i).cast("long"))
        if admitted is None:
            admitted = batch
        else:
            fresh = batch.join(
                admitted.select("fp"), "fp", "left_anti"
            )
            admitted = admitted.unionByName(fresh)
    return admitted.select("doc_id", "fp", "batch_idx")


# --------------------------------------------------------------------------
# Quality-aware CLUSTER representatives: per near-dup connected
# component, the longest member wins (ties: lower id) — the
# transitive-closure form of quality_keeper_dedup's pair policy.
# --------------------------------------------------------------------------

_CQR_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.id_a, i.id_b FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    comp AS (SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id),
    nw AS (SELECT doc_id AS id, len(t) AS n_words FROM toks),
    scored AS (
      SELECT c.id, c.cluster_rep, nw.n_words,
             COUNT(*) OVER (PARTITION BY c.cluster_rep) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_rep
               ORDER BY nw.n_words DESC, c.id) AS rn
      FROM comp c JOIN nw USING (id)
    ),
    reps AS (
      SELECT cluster_rep, id AS quality_rep FROM scored WHERE rn = 1
    )
    SELECT s.id, s.cluster_rep, r.quality_rep,
           CAST(s.n_words AS BIGINT) AS n_words,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN s.id = r.quality_rep THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM scored s JOIN reps r USING (cluster_rep)
    """


@register("cluster_quality_representatives", _CQR_ORACLE)
def cluster_quality_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup connected components with a QUALITY-chosen survivor:
    components from the same exact-Jaccard pair graph as
    `near_dup_clusters` (iterative min-label propagation), then the
    longest member per component wins (ties: lower id) — the
    cluster-grain form of `quality_keeper_dedup`, for when keep-one-
    per-cluster semantics are wanted instead of greedy per-pair
    drops. The oracle replays the closure with a recursive CTE and
    the same (n_words desc, id) argmax."""
    from ..operators.dedup import dedup_clusters, ngram_jaccard_pairs

    d = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.8)
    comp = dedup_clusters(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
    )
    nw = d.select(
        F.col("doc_id").alias("id"),
        F.size(F.split(F.lower(F.col("text")), " ")).alias("n_words"),
    )
    from pyspark.sql import Window as W

    scored = comp.join(nw, "id").select(
        "id",
        "cluster_rep",
        "n_words",
        F.count(F.lit(1))
        .over(W.partitionBy("cluster_rep"))
        .cast("long")
        .alias("cluster_size"),
        F.row_number()
        .over(
            W.partitionBy("cluster_rep").orderBy(
                F.desc("n_words"), F.asc("id")
            )
        )
        .alias("__rn"),
    )
    reps = scored.filter(F.col("__rn") == 1).select(
        "cluster_rep", F.col("id").alias("quality_rep")
    )
    return scored.join(reps, "cluster_rep").select(
        "id",
        "cluster_rep",
        "quality_rep",
        F.col("n_words").cast("long").alias("n_words"),
        "cluster_size",
        (F.col("id") == F.col("quality_rep")).cast("long").alias("keep"),
    )


# --------------------------------------------------------------------------
# IVF-tier hard-negative mining: the corpus-scale form — candidates
# from nprobe probed cells, cross-label gate inside the cells.
# --------------------------------------------------------------------------

_HNI_COS = """list_reduce(
             list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE)
                    * CAST(c.embedding[i] AS DOUBLE)),
             (acc, v) -> acc + v) / (q.nrm * c.nrm)"""

_HNI_ORACLE = f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, v) -> acc + v)) AS nrm
      FROM embeddings
    ),
    cent AS (SELECT vec_id, embedding, nrm FROM n ORDER BY vec_id LIMIT 16),
    asg AS (
      SELECT id, cell FROM (
        SELECT q.vec_id AS id, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_HNI_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_HNI_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < 10
      ) WHERE rnk <= 4
    ),
    isims AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_HNI_COS} AS cosine
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN n q ON q.vec_id = p.qid
      JOIN n c ON c.vec_id = a.id
      WHERE c.vec_id != q.vec_id AND c.label != q.label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM isims
    ) WHERE rank <= 5
    """


@register("hard_negative_ivf_mining", _HNI_ORACLE)
def hard_negative_ivf_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale hard-negative mining: IVF candidates (first-16
    deterministic quantizer, nprobe=4) with the cross-label gate
    applied inside the probed cells, then exact re-rank to top-5
    (:func:`..operators.similarity.hard_negative_ivf_topk`). The
    oracle replays assignment, probes, the label gate, and the rank
    — the DPR mining pass at the cost of ~nprobe/16 of the corpus
    per query batch."""
    from ..operators.similarity import hard_negative_ivf_topk

    em = load_tables(spark, sf_dir, "embeddings")
    return hard_negative_ivf_topk(
        em, em.filter(F.col("vec_id") < 10), k=5,
        num_centroids=16, nprobe=4,
    )


# --------------------------------------------------------------------------
# Span-level benchmark decontamination: exact covered-token fraction
# of each corpus doc by spans from a benchmark set (merged islands).
# --------------------------------------------------------------------------

_SBC_W = 8

_SBC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sp AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i:i+{_SBC_W - 1}], ' ')) AS fp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_SBC_W - 2}, 1))) AS u(i)
    ),
    ref AS (
      SELECT DISTINCT doc_id AS rid, fp FROM sp WHERE doc_id % 50 = 0
    ),
    flg AS (
      SELECT DISTINCT s.doc_id, s.pos, s.pos + {_SBC_W - 1} AS e
      FROM sp s JOIN ref r ON r.fp = s.fp AND r.rid != s.doc_id
    ),{_span_sql.numbered_islands('flg')},{_span_sql.coverage_agg('n_spans')}
    SELECT d.doc_id,
           CAST(len(string_split(lower(d.text), ' ')) AS BIGINT)
             AS n_tokens,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT)
             AS n_contaminated_spans,
           CAST(COALESCE(a.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
             / CAST(len(string_split(lower(d.text), ' ')) AS DOUBLE)
             AS contamination,
           CAST(CASE WHEN COALESCE(a.covered_tokens, 0) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@register("benchmark_span_contamination", _SBC_ORACLE)
def benchmark_span_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-level decontamination report against a fixture benchmark
    set (every 50th doc): per corpus doc, the EXACT fraction of its
    tokens covered by W=8 spans that also appear in a benchmark doc
    (:func:`..operators.dedup.span_contamination` — merged islands,
    so a verbatim inclusion counts its true length). Complements the
    doc-level flag queries (`benchmark_contamination` /
    `benchmark_decontamination`) with the published how-much number;
    same-id matches excluded so embedded benchmark docs don't flag
    themselves."""
    from ..operators.dedup import span_contamination

    d = load_tables(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 50 == 0)
    return span_contamination(d, ref, "doc_id", "text", window=_SBC_W)


# --------------------------------------------------------------------------
# Per-source contamination rollup — the reporting grain crawl/source
# policies act on, composing span_contamination.
# --------------------------------------------------------------------------

_SCR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS t
      FROM documents
    ),
    sp AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i:i+{_SBC_W - 1}], ' ')) AS fp
      FROM toks,
           UNNEST(range(1, greatest(len(t) - {_SBC_W - 2}, 1))) AS u(i)
    ),
    ref AS (
      SELECT DISTINCT doc_id AS rid, fp FROM sp WHERE doc_id % 50 = 0
    ),
    flg AS (
      SELECT DISTINCT s.doc_id, s.pos, s.pos + {_SBC_W - 1} AS e
      FROM sp s JOIN ref r ON r.fp = s.fp AND r.rid != s.doc_id
    ),{_span_sql.numbered_islands('flg')},{_span_sql.coverage_agg(None)}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN COALESCE(a.covered_tokens, 0) > 0
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated_docs,
           CAST(SUM(len(string_split(lower(d.text), ' '))) AS BIGINT)
             AS n_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS BIGINT)
             AS covered_tokens,
           CAST(SUM(COALESCE(a.covered_tokens, 0)) AS DOUBLE)
             / CAST(SUM(len(string_split(lower(d.text), ' ')))
                    AS DOUBLE) AS token_contamination_rate
    FROM documents d LEFT JOIN agg a USING (doc_id)
    GROUP BY d.source
    """


@register("source_contamination_rollup", _SCR_ORACLE)
def source_contamination_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """benchmark_span_contamination rolled up to the SOURCE grain —
    docs flagged, token mass covered, and the per-source token
    contamination rate: the number crawl quotas and source
    allow/deny policies key on (a source leaking benchmark text gets
    cut at the source tier, not doc by doc). One extra hash
    aggregate over the per-doc report."""
    from ..operators.dedup import span_contamination

    d = load_tables(spark, sf_dir, "documents")
    per_doc = span_contamination(
        d, d.filter(F.col("doc_id") % 50 == 0), "doc_id", "text",
        window=_SBC_W,
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
