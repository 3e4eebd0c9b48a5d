"""Text-analysis operators for training-data pipelines
(BASELINE.json north-star: language-ID, quality scoring, token
counting, document fingerprinting).

All pure Column expressions / joins — no Python UDFs — so they run
JVM-side under whole-stage codegen and are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Small per-language stopword sets for the n-gram/stopword-hit
# language heuristic. Deliberately tiny: the operator's shape (token
# explode → broadcast dim join → per-doc argmax) is what scales; the
# dictionary is a plug-in.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "pour", "que", "dans"],
}


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    )


# The "trainer-view" tokenizer: runs of letters, runs of digits, and
# individual other symbols over the lowercased text — the subword-ish
# normalization decontamination recipes apply before n-gram matching
# (GPT-3 appendix C uses 13-grams over lowercase punctuation-split
# text). Shared by token_counts and the token-level span operators in
# :mod:`.dedup`; DuckDB replays it verbatim via regexp_extract_all.
BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_ish_tokens(text_col: str) -> Column:
    """ARRAY<STRING> of BPE-ish tokens of *text_col* (see
    :data:`BPE_ISH_RE`). Tokens never contain spaces, so space-joined
    token slices are collision-free span keys."""
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_ISH_RE), 0
    )


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Guess each document's language by stopword hits.

    Tokens join a broadcast (word, lang) dimension; the language with
    the most hits wins (ties break alphabetically); no hits → 'und'.
    At 100 TB this is one explode + broadcast join + hash aggregate —
    no shuffle of the corpus beyond the per-doc counts.
    """
    stopwords = stopwords or STOPWORDS
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(w, lang) for lang, ws in stopwords.items() for w in ws],
        "token string, lang string",
    )
    hits = (
        _tokens(df, id_col, text_col)
        .join(F.broadcast(dim), "token")
        .groupBy(id_col, "lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("n_hits"), F.asc("lang"))
    best = (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("lang").alias("lang_guess"), "n_hits")
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce("lang_guess", F.lit("und")).alias("lang_guess"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )


def text_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Length / word / character-class quality metrics + a keep flag.

    Cheap single-pass metrics of the kind used to filter web corpora
    (C4-style heuristics): word count, average word length,
    alphabetic ratio, punctuation ratio, stopword ratio.
    *carry_cols* pass through unchanged, so a downstream filter on
    ``keep`` needs no join back to the corpus (one scan, not two).
    """
    lower = F.lower(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    words = F.split(lower, " ")
    n_words = F.size(words)
    n_nonspace = F.length(F.regexp_replace(lower, " ", ""))
    n_alpha = F.length(F.regexp_replace(lower, "[^a-z]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), "[.,!?;:]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda t: F.array_contains(en_stop, t)))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_nonspace / n_words).alias("avg_word_len"),
        (n_alpha / n_chars).alias("alpha_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
        (n_stop / n_words).alias("stopword_ratio"),
        (
            (n_words >= 20)
            & ((n_nonspace / n_words) >= 2)
            & ((n_nonspace / n_words) <= 12)
            & ((n_alpha / n_chars) > 0.5)
        ).alias("keep"),
    )


def token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count.

    The regex splits runs of letters, runs of digits, and individual
    other symbols — a rough proxy for subword tokenizer output used
    to budget training tokens. *carry_cols* pass through unchanged.
    """
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        F.size(F.split(F.col(text_col), " ")).alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(text_col)).alias("n_bpe_ish_tokens"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction,
    top-token frequency ratio, and duplicate word-bigram fraction.

    Boilerplate/spam detection for corpus filtering — highly
    repetitive documents (templated pages, keyword stuffing) score
    high and get dropped. Pure array expressions, no explode: per-row
    arrays stay inside the task, so the operator costs a scan
    regardless of corpus size. Distinct count AND top-frequency come
    from ONE run-length pass over the sorted token array —
    O(T log T) per row, vs the naive per-distinct-token re-filter
    which is O(T × distinct) and ~4× slower in the interpreted HOF
    evaluator.
    """

    def run_stats(arr: Column) -> Column:
        # One aggregate() over a SORTED array: equal values are
        # adjacent, so (max run length, number of run starts) =
        # (top frequency, distinct count).
        init = F.struct(
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("nd"),
            F.lit(None).cast("string").alias("prev"),
        )

        def step(acc: Column, x: Column) -> Column:
            same = x == acc.prev  # null prev → false branch (first run)
            run = F.when(same, acc.run + 1).otherwise(F.lit(1))
            return F.struct(
                run.alias("run"),
                F.greatest(acc.best, run).alias("best"),
                (acc.nd + F.when(same, F.lit(0)).otherwise(F.lit(1))).alias("nd"),
                x.alias("prev"),
            )

        return F.aggregate(arr, init, step)

    words = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Two-step select: materialize each run-stats struct once per row
    # so the three stats derived from it don't re-run the aggregate.
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        n.alias("n_tokens"),
        run_stats(F.array_sort(words)).alias("__w"),
        run_stats(F.array_sort(bigrams)).alias("__b"),
    )
    n_tok = F.col("n_tokens")
    n_bi = F.greatest(n_tok - 1, F.lit(0))
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        n_tok,
        F.col("__w.nd").alias("n_distinct_tokens"),
        (F.lit(1.0) - F.col("__w.nd").cast("double") / n_tok).alias(
            "dup_token_frac"
        ),
        (F.col("__w.best").cast("double") / n_tok).alias("top_token_ratio"),
        F.when(
            n_bi > 0, F.lit(1.0) - F.col("__b.nd").cast("double") / n_bi
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def doc_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite).

    md5 over word *n*-gram shingles; the minimum hash is the
    fingerprint (stable under small edits away from the minimizing
    window — the 1-hash degenerate case of winnowing).
    """
    from .dedup import word_shingles

    sh = word_shingles(df, id_col, text_col, n)
    return sh.groupBy(id_col).agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.count("*").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing + URL/domain analysis — standard pre-training hygiene
# passes. Pure column expressions (regexp_count / regexp_replace /
# regexp_extract_all), so they run JVM-side inside whole-stage codegen
# and cost one scan regardless of corpus size. Patterns stay in the
# RE2 ∩ Java-regex dialect so any SQL engine can replay them.
# ---------------------------------------------------------------------------
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # category -> (pattern, replacement token); applied in this order —
    # emails first, so IP-looking hosts (user@10.0.0.1) are consumed
    # before the ipv4 pass sees them
    "email": (r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    "ipv4": (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
}

_URL_DOMAIN = r"https?://([A-Za-z0-9.-]+)"


def pii_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document PII match counts (one column per category)."""
    return df.select(
        id_col,
        *[F.col(c) for c in (carry_cols or [])],
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{cat}")
            for cat, (pat, _) in PII_PATTERNS.items()
        ],
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
) -> DataFrame:
    """Replace every PII match with its category token, in the fixed
    :data:`PII_PATTERNS` order. One chained regexp_replace expression
    — a single projection, no extra pass per category."""
    expr = F.col(text_col)
    for pat, token in PII_PATTERNS.values():
        expr = F.regexp_replace(expr, pat, token)
    return df.withColumn(out_col, expr)


def url_domains(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode every http(s) URL's host out of the text: one
    (id, domain) row per occurrence. Downstream: per-domain corpus
    stats, blocklist anti-joins, source mixture weighting."""
    return df.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(_URL_DOMAIN), 1)
        ).alias("domain"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping fixed-size token chunks
    (window *chunk_tokens*, step *stride*) — the standard prep for
    bounded-context training/embedding: long documents become
    several overlapping examples instead of being truncated.

    One projection per document (split → sequence of starts → slice
    per start → explode); no shuffle at all — chunking is
    embarrassingly parallel and stays inside whole-stage codegen.
    Output: (id, chunk_idx, chunk_text, n_tokens); the last chunk of
    a doc may be shorter than *chunk_tokens*.
    """
    toks = F.split(F.col(text_col), " ")
    chunk = F.expr(
        f"transform(sequence(1, greatest(size(__toks), 1), {stride}), "
        f"s -> struct(cast((s - 1) / {stride} as int) as chunk_idx, "
        f"concat_ws(' ', slice(__toks, s, {chunk_tokens})) as chunk_text, "
        f"size(slice(__toks, s, {chunk_tokens})) as n_tokens))"
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.explode(chunk).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    sep_tokens: int = 1,
) -> DataFrame:
    """GPT-style concat-and-chunk packing PLACEMENT: documents are
    laid out in *id_col* order on one global token tape (the BPE-ish
    token alphabet, *sep_tokens* separator after every document —
    the EOS convention), and the tape is cut every *seq_len* tokens
    into training sequences. Returns where each document lands:

    ``(id, n_tokens, tape_start, first_seq, last_seq, n_seqs_spanned,
    is_split)`` — ``is_split`` marks documents crossing a sequence
    boundary (they contribute partial context windows; the metric
    packing policies tune ``seq_len`` against).

    Scale shape: the only global dependency is the running token
    offset, computed with :func:`..operators.prefix.
    distributed_prefix_sum` (two-phase bucketed cumsum — no
    single-partition window, one shuffle by order-contiguous
    bucket). Everything after the offset is per-row arithmetic.
    Zero-token documents occupy no tape and report their boundary
    position unsplit.

    The OTHER packing convention — whole documents assigned to
    token-budget bins, no splitting, bins overfill by ≤1 doc — is
    the ``sequence_packing`` registry query (`queries/corpus.py`);
    this one is the padding-free GPT convention where documents DO
    cross boundaries, and the report quantifies how often.
    """
    from .prefix import distributed_prefix_sum

    toks = df.select(
        F.col(id_col),
        F.size(bpe_ish_tokens(text_col)).cast("long").alias("n_tokens"),
    ).withColumn("__adv", F.col("n_tokens") + F.lit(sep_tokens))
    cum = distributed_prefix_sum(
        toks, id_col, "__adv", out_col="tape_start", exclusive=True
    )
    first = F.expr(f"tape_start div {seq_len}")
    last = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(tape_start + n_tokens - 1) div {seq_len}"),
    ).otherwise(first)
    return (
        cum.withColumn("first_seq", first.cast("long"))
        .withColumn("last_seq", last.cast("long"))
        .withColumn(
            "n_seqs_spanned", (F.col("last_seq") - F.col("first_seq") + 1)
        )
        .withColumn("is_split", (F.col("last_seq") > F.col("first_seq")))
        .select(
            id_col, "n_tokens", "tape_start", "first_seq", "last_seq",
            "n_seqs_spanned", "is_split",
        )
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    vocab_size: int = 200,
) -> DataFrame:
    """Out-of-vocabulary token rate against the corpus's own top-*k*
    vocabulary — the coverage check run before committing to a
    tokenizer/vocab budget.

    Two aggregates over one token explode: global frequency picks
    the vocabulary (freq desc, token tiebreak), a broadcast join
    marks each token occurrence in/out, and rates roll up per
    *group_col* (or corpus-wide). The vocabulary is k rows —
    broadcast, never shuffled with the corpus.
    """
    toks = _tokens(df, id_col, text_col)
    if group_col:
        toks = toks.join(df.select(id_col, group_col), id_col)
    freq = toks.groupBy("token").agg(F.count("*").alias("__freq"))
    # top-k via sort+limit (TakeOrderedAndProject: per-partition heaps
    # merged on the driver), never a global row_number window
    vocab = (
        freq.orderBy(F.desc("__freq"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "token", "left")
    keys = [group_col] if group_col else []
    return marked.groupBy(*keys).agg(
        F.count("*").alias("total_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
            "oov_tokens"
        ),
        (
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            / F.count("*")
        ).alias("oov_rate"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Strip boilerplate lines — lines appearing in ≥ *min_docs*
    distinct documents (nav bars, cookie banners, signatures) — and
    reassemble each document with its remaining lines in original
    order. The standard web-corpus cleaning pass (CCNet-style),
    line-frequency-driven so it needs no patterns.

    Shape: one explode → one (line → doc-count) aggregate → one
    equi-join back → one per-doc reassembly aggregate
    (``array_sort`` of (line_no, line) structs, so order survives
    the shuffle). The boilerplate table is |distinct lines| rows —
    joined, not broadcast, since at corpus scale it is corpus-sized.

    Output: (id, cleaned_text, n_lines_kept, n_lines_removed);
    documents that were ALL boilerplate come back with an empty
    string, not a dropped row.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__ln", "__line"),
    )
    boiler = (
        lines.groupBy("__line")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__line", F.lit(True).alias("__is_boiler"))
    )
    marked = lines.join(boiler, "__line", "left")
    rebuilt = marked.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN __is_boiler IS NULL"
                " THEN struct(__ln, __line) END)), s -> s.__line)"
            ),
        ).alias("cleaned_text"),
        F.sum(F.when(F.col("__is_boiler").isNull(), 1).otherwise(0)).alias(
            "n_lines_kept"
        ),
        F.sum(F.when(F.col("__is_boiler").isNotNull(), 1).otherwise(0)).alias(
            "n_lines_removed"
        ),
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.coalesce("n_lines_removed", F.lit(0)).alias("n_lines_removed"),
    )


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document average token log-probability under the corpus's
    own unigram model — the perplexity-style quality signal (CCNet
    lineage) used to rank web documents before training.

    Two aggregates over one token explode: global frequencies form
    the unigram model (a vocabulary-sized dimension, broadcast back
    onto the token stream), then per-document log-probs reduce.  The
    per-doc sum folds over the SORTED log-prob list (canonical
    order), so the double accumulation is bit-identical on any
    partitioning and any engine — the same discipline as the cosine
    folds. Output: (id, carry..., n_tokens, avg_logprob, ppl_ish =
    exp(-avg_logprob)).
    """
    toks = _tokens(df, id_col, text_col)
    freq = toks.groupBy("token").agg(F.count("*").alias("__c"))
    total = toks.agg(F.count("*").alias("__n"))
    model = freq.crossJoin(F.broadcast(total)).select(
        "token",
        F.log(F.col("__c") / F.col("__n").cast("double")).alias("__lp"),
    )
    scored = toks.join(F.broadcast(model), "token")
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.expr(
            "aggregate(sort_array(collect_list(__lp)), 0D,"
            " (acc, v) -> acc + v)"
        ).alias("__sum_lp"),
    )
    out = per_doc.select(
        F.col(id_col),
        "n_tokens",
        (F.col("__sum_lp") / F.col("n_tokens")).alias("avg_logprob"),
        F.exp(-(F.col("__sum_lp") / F.col("n_tokens"))).alias("ppl_ish"),
    )
    if carry_cols:
        out = out.join(df.select(id_col, *carry_cols), id_col)
    return out


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 200,
) -> DataFrame:
    """Adjacent symbol-pair frequencies — the inner loop of BPE
    tokenizer training, run corpus-wide as two hash aggregates.

    The classic trainer counts pairs over the WORD-FREQUENCY table,
    not the raw token stream: dedup words first (vocabulary-sized,
    tiny vs corpus), then explode each distinct word's adjacent
    character pairs weighted by the word's corpus frequency. At
    100 TB the pair explode therefore runs over the vocabulary —
    millions of rows — while only the word count touches the full
    corpus; exactly how a distributed BPE trainer shards its first
    merge round.

    Output: (pair, pair_count, n_words) — total weighted
    occurrences and the number of distinct words containing the
    pair; top_k by count with a pair tiebreak.
    """
    wf = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            "w",
            "f",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - F.lit(1))
            ).alias("i"),
        )
        .select(F.expr("substring(w, i, 2)").alias("pair"), "w", "f")
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("f").alias("pair_count"),
            F.countDistinct("w").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_k)
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 200,
) -> DataFrame:
    """Least-squares fit of ln(freq) ~ ln(rank) over the top-*k*
    corpus tokens — the Zipf-law health check (natural corpora fit a
    slope near −1; generated/templated text drifts off it).

    One corpus-wide token count (hash agg), a global top-*k* (tiny),
    then the regression runs over *k* rows on fixed-point integers:
    ln values are floor-quantized to an 1e-8 grid and summed as
    DECIMAL(38,0) so the moment sums are exact — slope/intercept/r²
    are then single double expressions with one association, bit-
    equal on any engine (the ``corr_regression_qty_price``
    discipline; JVM/libm ``ln`` has matched on this corpus, see the
    registry rules).

    Output: one row (n, slope, intercept, r2, top_token, top_freq).
    """
    counts = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), F.asc("w"))
        .limit(top_k)
    )
    w_rank = Window.orderBy(F.desc("f"), F.asc("w"))
    ranked = counts.select(
        "w", "f", F.row_number().over(w_rank).alias("rank")
    )
    # fixed-point ln on the 1e-8 grid, exact integer moments
    xi = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e8)).cast(
        "decimal(38,0)"
    )
    yi = F.floor(F.log(F.col("f").cast("double")) * F.lit(1e8)).cast(
        "decimal(38,0)"
    )
    def _d(c):
        return c.cast("string").cast("double") / F.lit(1e8)

    def _d2(c):
        return c.cast("string").cast("double") / F.lit(1e16)

    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _d(F.sum(xi)).alias("sx"),
        _d(F.sum(yi)).alias("sy"),
        _d2(F.sum(xi * yi)).alias("sxy"),
        _d2(F.sum(xi * xi)).alias("sxx"),
        _d2(F.sum(yi * yi)).alias("syy"),
        F.max(F.when(F.col("rank") == 1, F.col("w"))).alias("top_token"),
        F.max(F.when(F.col("rank") == 1, F.col("f"))).alias("top_freq"),
    )
    cov = (F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))
    varx = (F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx"))
    vary = (F.col("n") * F.col("syy")) - (F.col("sy") * F.col("sy"))
    slope = cov / varx
    return m.select(
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        ((F.col("sy") - (slope * F.col("sx"))) / F.col("n")).alias(
            "intercept"
        ),
        ((cov / varx) * (cov / vary)).alias("r2"),
        "top_token",
        "top_freq",
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 1.0,
) -> DataFrame:
    """Per-document average bigram log-probability under an add-k
    smoothed bigram model trained on the corpus itself — the
    next-order sibling of :func:`unigram_logprob_scores` (fluency
    signal: word-salad documents score far below natural prose even
    when their unigram mix looks normal).

    Model: lp(w2|w1) = ln((c(w1,w2) + k) / (c(w1) + k·V)). Training
    is two hash aggregates over one token explode (bigram counts are
    vocabulary²-bounded, far below corpus-sized, so the scoring join
    is a shuffle equi-join on the bigram key — NOT a broadcast; only
    the 1-row vocabulary size broadcasts). The per-doc sum folds over
    the sorted log-prob list, bit-identical on any partitioning and
    engine. Output: (id, n_bigrams, avg_bigram_lp).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "token"
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    big = toks.select(
        F.col(id_col),
        F.col("token"),
        F.lead("token").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c2 = big.groupBy("token", "nxt").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c1"))
    vocab = toks.agg(F.countDistinct("token").alias("__v"))
    # ln quantized to an 1e-8 grid: JVM Math.log vs libm ln differ by
    # 1 ulp on some of this model's ratios (observed at sf0.01), and
    # the per-doc sum amplifies the drift past the zero-tolerance
    # gate — same discipline as BM25's idf (operators/search.py)
    model = (
        c2.join(c1, "token")
        .crossJoin(F.broadcast(vocab))
        .select(
            "token",
            "nxt",
            (
                F.floor(
                    F.log(
                        (F.col("__c2") + F.lit(add_k))
                        / (F.col("__c1") + F.lit(add_k) * F.col("__v"))
                    )
                    * F.lit(1e8)
                )
                / F.lit(1e8)
            ).alias("__lp"),
        )
    )
    per_doc = (
        big.join(model, ["token", "nxt"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "aggregate(sort_array(collect_list(__lp)), 0D,"
                " (acc, v) -> acc + v)"
            ).alias("__sum_lp"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        (F.col("__sum_lp") / F.col("n_bigrams")).alias("avg_bigram_lp"),
    )


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that appear in no other document — the
    memorization/diversity signal corpus curation reads next to the
    dup-rate (novelty ≈ 0 means the doc is stitched from boilerplate
    the corpus already has; ≈ 1 means fresh text).

    One distinct-shingle explode, one corpus-frequency aggregate,
    one broadcast-free equi-join back on the shingle key, one per-doc
    count — all corpus-shaped, no pair joins. Docs shorter than *n*
    words emit n_shingles = 0 and NULL novelty (no basis to score).
    Output: (id, n_shingles, n_novel, novelty).
    """
    from .dedup import word_shingles

    sh = word_shingles(df, id_col, text_col, n=n, distinct=True)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("__df") == 1, 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
            ).alias("novelty"),
        )
    )


# Gopher-style quality gate (Rae et al. 2021, "Scaling Language
# Models", table A1 — the rule families, simplified to signals the
# synthetic corpus carries). Stopword list: the classic most-frequent
# English function words.
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "be")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    min_stopword_frac: float = 0.02,
    min_distinct_ratio: float = 0.2,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document booleans for the Gopher-style quality rules —
    the standard pre-training filter family (word-count bounds,
    mean word length bounds, stopword fraction, distinct-word
    ratio). Output: (id, n_words, plus one boolean per rule and
    `pass_all`).

    Pure Column expressions over one tokenization (no second scan,
    no UDFs); every rule is an integer-ratio comparison, so the
    flags are engine-exact. Thresholds are keyword args — corpora
    tune them; defaults suit the synthetic word-soup testdata (real
    Gopher bounds: 50/100k words, 3–10 chars, 0.06 stopwords).
    """
    carry = carry_cols or []
    toks = F.split(F.lower(F.col(text_col)), " ")
    d = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        toks.alias("__t"),
        F.size(toks).alias("n_words"),
    )
    nw = F.col("n_words").cast("double")
    total_chars = F.aggregate(
        F.transform("__t", F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    sw_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter("__t", lambda t: F.array_contains(sw_arr, t)))
    n_distinct = F.size(F.array_distinct("__t"))
    mean_len = total_chars.cast("double") / nw
    out = d.select(
        id_col,
        *carry,
        "n_words",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "ok_word_count"
        ),
        (
            (mean_len >= F.lit(min_mean_word_len))
            & (mean_len <= F.lit(max_mean_word_len))
        ).alias("ok_mean_word_len"),
        (n_stop.cast("double") / nw >= F.lit(min_stopword_frac)).alias(
            "ok_stopword_frac"
        ),
        (n_distinct.cast("double") / nw >= F.lit(min_distinct_ratio)).alias(
            "ok_distinct_ratio"
        ),
    )
    return out.withColumn(
        "pass_all",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_stopword_frac")
        & F.col("ok_distinct_ratio"),
    )


def trigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 1.0,
) -> DataFrame:
    """Per-document average trigram log-probability under an add-k
    smoothed trigram model trained on the corpus itself — the
    third-order member of the unigram/bigram fluency family
    (:func:`unigram_logprob_scores`, :func:`bigram_logprob_scores`).
    Higher order = sharper word-salad discrimination: shuffled text
    keeps its unigram mix and much of its bigram mass, but almost no
    trigrams.

    Model: lp(w3|w1,w2) = ln((c(w1,w2,w3) + k) / (c(w1,w2) + k·V)),
    V = unigram vocabulary size. Training is two hash aggregates
    over one positional token explode (trigram counts are bounded by
    corpus trigram occurrences, far below corpus text volume);
    scoring is a shuffle equi-join on the (w1,w2,w3) key — NOT a
    broadcast (the trigram table outgrows broadcast at corpus
    scale); only the 1-row vocabulary size broadcasts. ln is
    1e-8 floor-quantized (the BM25-idf discipline) and the per-doc
    sum folds over the sorted log-prob list — bit-identical on any
    partitioning and engine. Output: (id, n_trigrams,
    avg_trigram_lp).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "token"
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    tri = toks.select(
        F.col(id_col),
        F.col("token"),
        F.lead("token", 1).over(w).alias("mid"),
        F.lead("token", 2).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c3 = tri.groupBy("token", "mid", "nxt").agg(
        F.count(F.lit(1)).alias("__c3")
    )
    # context count c(w1,w2) over ALL bigram occurrences (including
    # document-final ones) — the standard add-k denominator base
    big = toks.select(
        F.col(id_col),
        F.col("token"),
        F.lead("token", 1).over(w).alias("mid"),
    ).filter(F.col("mid").isNotNull())
    c2 = big.groupBy("token", "mid").agg(F.count(F.lit(1)).alias("__c2"))
    vocab = toks.agg(F.countDistinct("token").alias("__v"))
    model = (
        c3.join(c2, ["token", "mid"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "token",
            "mid",
            "nxt",
            (
                F.floor(
                    F.log(
                        (F.col("__c3") + F.lit(add_k))
                        / (F.col("__c2") + F.lit(add_k) * F.col("__v"))
                    )
                    * F.lit(1e8)
                )
                / F.lit(1e8)
            ).alias("__lp"),
        )
    )
    per_doc = (
        tri.join(model, ["token", "mid", "nxt"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.expr(
                "aggregate(sort_array(collect_list(__lp)), 0D,"
                " (acc, v) -> acc + v)"
            ).alias("__sum_lp"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_trigrams",
        (F.col("__sum_lp") / F.col("n_trigrams")).alias("avg_trigram_lp"),
    )


def heaps_law_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_prefixes: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(n) ≈ K·n^β over ingestion
    order — the corpus-health curve that says how much NEW vocabulary
    further crawling buys (β ≈ 0.7–0.8 for natural text; β near 1
    flags synthetic/ID-heavy text, β near 0 a saturated corpus).

    The corpus is cut into *n_prefixes* id-ordered slices via integer
    arithmetic on the id (floor(id·P/(max+1)) — NO global-sort
    window: a single-partition NTILE would funnel the doc table
    through one task at 100 TB). Prefix p's token count is the
    cumulative slice total; its vocabulary is the number of distinct
    tokens whose FIRST slice ≤ p (one min-aggregate per token — the
    corpus never rescans per prefix). The log-log least-squares fit
    runs over *n_prefixes* bounded rows: each ln is 1e-8
    floor-quantized and every regression sum is an exact integer sum
    of 1e-8-quantized terms, so β replays bit-for-bit in SQL.

    Output (1 row): (n_points, total_tokens, total_vocab,
    heaps_beta, heaps_ln_k).
    """
    mx = df.agg(F.max(F.col(id_col))).first()[0]  # bounded scalar
    bucket = F.least(
        F.floor(
            F.col(id_col).cast("bigint") * n_prefixes / F.lit(int(mx) + 1)
        ).cast("int"),
        F.lit(n_prefixes - 1),
    )
    toks = df.select(
        bucket.alias("__b"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    slice_counts = toks.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__nt")
    )
    first_slice = toks.groupBy("token").agg(F.min("__b").alias("__b"))
    new_vocab = first_slice.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__nv")
    )
    # cumulative over n_prefixes rows — a bounded window, not a
    # corpus-wide single-partition sort
    wc = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        slice_counts.join(new_vocab, "__b", "left")
        .select(
            "__b",
            F.sum("__nt").over(wc).alias("__ctok"),
            F.sum(F.coalesce("__nv", F.lit(0))).over(wc).alias("__cvoc"),
        )
    )
    q8 = lambda c: F.floor(c * F.lit(1e8))  # noqa: E731
    terms = pts.select(
        (q8(F.log(F.col("__ctok").cast("double"))) / F.lit(1e8)).alias(
            "__x"
        ),
        (q8(F.log(F.col("__cvoc").cast("double"))) / F.lit(1e8)).alias(
            "__y"
        ),
        F.col("__ctok"),
        F.col("__cvoc"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("double").alias("__p"),
        (
            F.sum(q8(F.col("__x")).cast("decimal(38,0)")).cast("double")
            / F.lit(1e8)
        ).alias("__sx"),
        (
            F.sum(q8(F.col("__y")).cast("decimal(38,0)")).cast("double")
            / F.lit(1e8)
        ).alias("__sy"),
        (
            F.sum(
                q8(F.col("__x") * F.col("__y")).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e8)
        ).alias("__sxy"),
        (
            F.sum(
                q8(F.col("__x") * F.col("__x")).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1e8)
        ).alias("__sxx"),
        F.max("__ctok").cast("long").alias("total_tokens"),
        F.max("__cvoc").cast("long").alias("total_vocab"),
    )
    beta = (
        F.col("__p") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ) / (
        F.col("__p") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    return sums.select(
        F.col("__p").cast("long").alias("n_points"),
        "total_tokens",
        "total_vocab",
        beta.alias("heaps_beta"),
        ((F.col("__sy") - beta * F.col("__sx")) / F.col("__p")).alias(
            "heaps_ln_k"
        ),
    )


def flesch_reading_ease(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Flesch reading-ease score from cheap lexical
    proxies: 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words), with syllables ≈ vowel-group count and sentences ≈
    terminal-punctuation runs (min 1). The readability axis of the
    quality-scoring family — one Column expression pass, no shuffle,
    no UDF; the constants and operation ORDER are pinned so a SQL
    oracle reproduces the double bit-for-bit.

    Output: (id_col, n_words, n_sentences, n_syllables, flesch);
    empty/whitespace-only docs (0 words) are dropped rather than
    dividing by zero under ANSI mode.
    """
    words = F.size(F.split(F.lower(F.col(text_col)), " "))
    syll = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiou]+', 0)")
    )
    sents = F.greatest(
        F.lit(1),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
    )
    out = df.select(
        id_col,
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = out["n_words"].cast("double") / out["n_sentences"].cast("double")
    spw = out["n_syllables"].cast("double") / out["n_words"].cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    return out.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def char_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Character n-grams per document → (id, [carry...], gram).

    Pure array expressions (sequence → substring → explode) over the
    lowercased text; documents shorter than *n* characters yield no
    grams. The guarded CASE keeps ``sequence(1, len-n+1)`` from
    running backwards on short strings (Spark's default step is -1
    when stop < start).
    """
    carry = carry_cols or []
    lo = F.lower(F.col(text_col))
    grams = F.expr(
        f"CASE WHEN length(__lo) >= {n} THEN "
        f"transform(sequence(1, length(__lo) - {n - 1}), "
        f"i -> substring(__lo, i, {n})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return df.select(
        F.col(id_col), *[F.col(c) for c in carry], lo.alias("__lo")
    ).select(F.col(id_col), *carry, F.explode(grams).alias("gram"))


def language_id_ngram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    profile_size: int = 200,
) -> DataFrame:
    """Character-n-gram-profile language ID (Cavnar & Trenkle 1994,
    "N-Gram-Based Text Categorization") — the upgrade over stopword
    voting (:func:`language_id`): works on languages without a
    curated stopword list and on unsegmented scripts, since the
    signal is character statistics, not word hits.

    Training and scoring in ONE job DAG:

    1. Per-language profiles: the *profile_size* most frequent
       character n-grams of each language's labeled text, ranked by
       (count desc, gram asc) — a deterministic row_number, not a
       float tf-idf.
    2. Per-document scores: ``score(doc, L) = Σ_g tf_doc(g) ·
       (profile_size + 1 − rank_L(g))`` over the doc's grams found
       in L's profile — the inverted ("higher is better") form of
       the Cavnar–Trenkle out-of-place measure, all-integer so the
       DuckDB oracle replays it exactly.
    3. Winner by (score desc, lang asc); no profile overlap → 'und'.

    Scale shape: ONE explode, aggregated ONCE into the
    (doc, lang, gram, tf) frame; the per-language profiles are
    derived FROM that frame as an inline broadcast subplan (sum tf
    over docs → rank → top *profile_size*), so the whole job is a
    single query plan in which Catalyst's exchange reuse
    materializes the tf shuffle once and feeds BOTH the profile
    subplan and the scoring join from it — no corpus-sized persist
    outliving the call (the r10-ADVICE leak), no second explode
    (the r11 regression), no eager collect. Profiles collapse to
    |langs|·profile_size rows inside a BroadcastExchange (~1k rows
    for 5 langs × 200 grams). Scoring is one broadcast join and one
    per-doc aggregate: no pair space, no corpus-sized shuffle
    beyond the per-doc gram counts.
    Self-labeled resubstitution here; production splits train/score
    frames by passing a labeled subset as *df* and unioning.
    """
    grams = char_ngrams(df, id_col, text_col, n, carry_cols=[lang_col])
    # the ONE corpus-sized aggregate both passes share: per-doc term
    # frequencies with the doc's label carried (one lang per doc, so
    # (doc, gram) grain == (doc, lang, gram) grain)
    tf = grams.groupBy(id_col, lang_col, "gram").agg(
        F.count(F.lit(1)).alias("tf")
    )

    pw = Window.partitionBy(lang_col).orderBy(
        F.desc("cnt"), F.asc("gram")
    )
    profile_plan = (
        tf.groupBy(lang_col, "gram")
        .agg(F.sum("tf").alias("cnt"))
        .withColumn("rank", F.row_number().over(pw))
        .filter(F.col("rank") <= profile_size)
        .select(
            F.col(lang_col).alias("cand_lang"),
            "gram",
            (F.lit(profile_size + 1) - F.col("rank")).alias("weight"),
        )
    )
    scores = (
        tf.join(F.broadcast(profile_plan), "gram")
        .groupBy(id_col, "cand_lang")
        .agg(F.sum(F.col("tf") * F.col("weight")).alias("score"))
    )
    bw = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("cand_lang")
    )
    best = (
        scores.withColumn("__rn", F.row_number().over(bw))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("cand_lang").alias("lang_guess"),
            F.col("score").cast("long").alias("score"),
        )
    )
    return (
        df.select(id_col, F.col(lang_col).alias("lang_true"))
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce("lang_guess", F.lit("und")).alias("lang_guess"),
            F.coalesce("score", F.lit(0)).cast("long").alias("score"),
            "lang_true",
            (F.coalesce("lang_guess", F.lit("und")) == F.col("lang_true"))
            .cast("long")
            .alias("is_correct"),
        )
    )


def gopher_repetition_fractions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7),
) -> DataFrame:
    """The full Gopher repetition-filter family (Rae et al. 2021,
    Table A1): per document, the fraction of characters contained in
    the single most frequent word n-gram (*top_ns*, paper n=2..4)
    and the fraction of characters contained in ALL duplicated word
    n-grams (*dup_ns*, paper n=5..10). Character mass of one n-gram
    occurrence = the summed word lengths (separators excluded), so
    every fraction is a ratio of integers — engine-exact.

    Scale shape: ZERO shuffles — each n-gram statistic is one
    run-length ``aggregate()`` over the row's SORTED n-gram array
    (equal grams are adjacent: run length = occurrence count), the
    :func:`repetition_stats` trick generalized. The whole operator
    is a single scan regardless of corpus size; the per-row cost is
    O(Σ_n T log T) for a T-token document.

    Output: (id, n_words, top{n}_char_frac..., dup{n}_char_frac...),
    doubles in [0,1]; documents with fewer than n words report 0.0.

    r14: the per-row statistics run in an Arrow-batched pandas
    kernel over the JVM tokenization (4.3 → ~1 s at sf0.1). The
    kernel counts grams with a dict instead of the interpreted
    sort+fold, but computes the SAME integers — total = Σ c_g·L_g,
    dup = Σ_{c_g≥2} c_g·L_g, top = max c_g·L_g, with gram strings
    built by the same space-join over the same token slices — and
    each output fraction is ONE double division of those integers,
    so results are bit-identical to the fold form
    (tests/test_round10.py pins kernel ≡ fold on real data).
    Tokenization (lower + split) stays in the JVM so locale/Unicode
    case mapping cannot drift between engines.
    """
    out_cols = (
        [f"top{n}_char_frac" for n in top_ns]
        + [f"dup{n}_char_frac" for n in dup_ns]
    )
    schema = ", ".join(
        [f"{id_col} bigint", "n_words bigint"]
        + [f"{c} double" for c in out_cols]
    )
    top_list, dup_list = list(top_ns), list(dup_ns)

    ns_all = sorted(set(top_list) | set(dup_list))

    def kernel(it):
        # r15: fully vectorized (guide §4.2 — the r14 kernel still
        # looped per document per gram in Python; ~20x on the gram
        # loop). Same integers as the dict form, computed with numpy
        # group ops: token strings are factorized to codes once per
        # batch, an n-gram is the int-row (doc, code_0..code_{n-1}),
        # occurrence counts come from np.unique over those rows, and
        # char mass uses a prefix sum of token lengths (mass of one
        # occurrence = Σ token lens = len(" ".join) - (n-1) exactly).
        # total/dup/top are integer sums/maxes per doc (reduceat over
        # the doc-major unique-gram order), and each output fraction
        # stays ONE double division of those integers — bit-identical
        # to the fold form (pinned in tests/test_round10.py).
        import numpy as np
        import pandas as pd

        for pdf in it:
            n_docs = len(pdf)
            if n_docs == 0:
                yield pd.DataFrame(
                    {c: [] for c in [id_col, "n_words"] + out_cols}
                )
                continue
            # a NULL text would reach here as None — treat as empty
            # (the registry corpora carry no NULLs; r14 ADVICE asks
            # the kernel not to crash on them)
            tok_arrays = [
                np.asarray(t if t is not None else [], dtype=object)
                for t in pdf["__toks"]
            ]
            doc_lens = np.fromiter(
                (len(t) for t in tok_arrays), dtype=np.int64, count=n_docs
            )
            total_toks = int(doc_lens.sum())
            if total_toks:
                flat = np.concatenate(tok_arrays)
                codes, uniques = pd.factorize(flat)
                tok_len = np.fromiter(
                    (len(u) for u in uniques),
                    dtype=np.int64,
                    count=len(uniques),
                )
                pos_len = tok_len[codes]
                cs = np.concatenate(
                    ([0], np.cumsum(pos_len))
                )  # prefix char mass
            starts = np.concatenate(([0], np.cumsum(doc_lens)))[:-1]
            cols = {
                id_col: pdf[id_col].to_numpy(),
                "n_words": doc_lens,
            }
            stats = {}
            for n in ns_all:
                tot = np.zeros(n_docs, dtype=np.int64)
                dup = np.zeros(n_docs, dtype=np.int64)
                top = np.zeros(n_docs, dtype=np.int64)
                gcounts = np.maximum(doc_lens - n + 1, 0)
                G = int(gcounts.sum())
                if G:
                    gram_doc = np.repeat(np.arange(n_docs), gcounts)
                    first = np.cumsum(gcounts) - gcounts
                    gi = (
                        np.arange(G)
                        - np.repeat(first, gcounts)
                        + np.repeat(starts, gcounts)
                    )
                    glen = cs[gi + n] - cs[gi]
                    key = np.empty((G, n + 1), dtype=np.int64)
                    key[:, 0] = gram_doc
                    for j in range(n):
                        key[:, j + 1] = codes[gi + j]
                    view = np.ascontiguousarray(key).view(
                        [("", np.int64)] * (n + 1)
                    ).ravel()
                    _, first_idx, counts = np.unique(
                        view, return_index=True, return_counts=True
                    )
                    # unique rows sort doc-major (doc is field 0)
                    u_doc = gram_doc[first_idx]
                    mass = counts * glen[first_idx]
                    seg = np.concatenate(
                        ([0], np.flatnonzero(np.diff(u_doc)) + 1)
                    )
                    present = u_doc[seg]
                    tot[present] = np.add.reduceat(mass, seg)
                    dup[present] = np.add.reduceat(
                        np.where(counts >= 2, mass, 0), seg
                    )
                    top[present] = np.maximum.reduceat(mass, seg)
                stats[n] = (tot, dup, top)
            for n in top_list:
                tot, _d, top = stats[n]
                cols[f"top{n}_char_frac"] = np.where(
                    tot > 0, top / np.where(tot > 0, tot, 1), 0.0
                )
            for n in dup_list:
                tot, dup, _t = stats[n]
                cols[f"dup{n}_char_frac"] = np.where(
                    tot > 0, dup / np.where(tot > 0, tot, 1), 0.0
                )
            yield pd.DataFrame(cols)[[id_col, "n_words"] + out_cols]

    toks_jvm = F.split(F.lower(F.col(text_col)), " ")
    return df.select(F.col(id_col), toks_jvm.alias("__toks")).mapInPandas(
        kernel, schema
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
    every document by its LM quality score WITHIN its language and
    cut into *n_buckets* equal-frequency tiers — CCNet's
    head/middle/tail, the knob public pipelines use to trade corpus
    size against quality (keep head+middle, drop tail).

    The score is :func:`unigram_logprob_scores`'s avg_logprob
    (higher = more predictable = lower perplexity = better), so
    bucket 1 is CCNet's "head". NTILE over (score desc, id asc) —
    the unique id tiebreak makes the cut deterministic, and the
    score itself is bit-exact across engines (sorted-fold double
    sum), so the bucket assignment is oracle-checkable.

    Scale shape: the LM pass is two aggregates over one token
    explode + a vocabulary-sized broadcast; the bucketing adds one
    per-language window (shuffle keyed on the language — as many
    partitions as languages, so pair with AQE skew handling when one
    language dominates, or pre-split the dominant language's window
    by hash salt when it exceeds a single executor's memory).

    Output: (id, lang, n_tokens, avg_logprob, bucket, bucket_label).
    """
    if n_buckets < 2:
        # head/middle/tail labels presuppose at least two tiers; with
        # one bucket the single tier would be labeled 'head' while
        # also being the tail (r10-ADVICE degenerate case)
        raise ValueError("n_buckets must be >= 2")
    scores = unigram_logprob_scores(
        df, id_col, text_col, carry_cols=[lang_col]
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("avg_logprob"), F.asc(id_col)
    )
    labels = F.when(F.col("bucket") == 1, "head").when(
        F.col("bucket") == n_buckets, "tail"
    ).otherwise("middle")
    return (
        scores.withColumn("bucket", F.ntile(n_buckets).over(w))
        .select(
            id_col,
            lang_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "avg_logprob",
            F.col("bucket").cast("long").alias("bucket"),
            labels.alias("bucket_label"),
        )
    )
