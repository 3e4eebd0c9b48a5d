"""Deduplication operators for large-scale text/embedding corpora.

The reference has no dedup (its full-refresh loads just replace
tables); these are the north-star LLM-data-pipeline operators
(BASELINE.json) built Spark-first:

- :func:`exact_dedup` — hash-groupBy; one shuffle on the content hash.
- :func:`keep_first_copy` / :func:`span_coverage` — the two ingest-
  dedup rules the curation plans and the registry's folds all call.
- :func:`word_shingles` → :func:`minhash_signatures` →
  :func:`minhash_lsh_pairs` — MinHash+LSH banding: candidate
  generation is equi-joins on (band, band_signature), so at 100 TB
  the quadratic pair space is never materialized — only hash-bucket
  collisions are.
- :func:`ngram_jaccard_pairs` — exact pairwise Jaccard (the O(n²)
  baseline / verifier; restrict to candidates at scale).
- :func:`simhash` / :func:`simhash_pairs` — bitwise fingerprints;
  near-dup = small Hamming distance.
- :func:`embedding_cosine_pairs` — embedding near-dup via cosine.

Determinism: all hashing is md5-based (identical in Spark and
DuckDB) so every operator is oracle-checkable; aggregation-order
sensitivity in float sums is removed by exact DECIMAL accumulation
when ``exact=True`` (the default keeps fast double math for
production paths).

Everything is pure DataFrame/Column expression — no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import eager_checkpoint as _ckpt

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Collapse exact-duplicate content, keeping the min (or max) id.

    One hash-aggregate on md5(content) — at 100 TB this is a single
    shuffle of (hash, id) pairs, not of the payloads. Deterministic
    (unlike ``dropDuplicates``, which keeps an arbitrary row).
    """
    keep_fn = F.min if keep == "min" else F.max
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("fingerprint"))
        .agg(
            keep_fn(F.col(id_col)).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "fingerprint", "n_copies")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document → (id, shingle).

    Pure array expressions (split → transform/slice → explode);
    documents shorter than *n* words yield no shingles.
    ``distinct=True`` (set semantics, needed for Jaccard) costs a
    shuffle of the whole shingle table; duplicate-insensitive
    consumers (MinHash minima) pass ``distinct=False`` and skip it.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    shingle_arr = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    out = df.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col), F.explode(shingle_arr).alias("shingle")
    )
    return out.distinct() if distinct else out


def span_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    fp_col: str = "sfp",
) -> DataFrame:
    """THE span-fingerprint recipe — the single definition of "a
    document's *window*-token span set": distinct
    (*id_col*, md5(space-joined slice of the lowercased whitespace
    tokenization)). Shared by the cross-doc span-dedup family, the
    incremental/streaming admit folds, AND the maintained sidecar
    ``spans`` table (`plans.sidecars`), so a window/tokenization
    change cannot silently diverge the sidecar index from the batch
    rule (r12 verdict item 5). Documents shorter than *window*
    tokens yield no rows. The positional variant (`_span_positions`)
    keeps its own explode — it needs token offsets, but uses the
    same tokenizer and span key by construction."""
    return (
        word_shingles(df, id_col, text_col, n=window, distinct=False)
        .select(F.col(id_col), F.md5("shingle").alias(fp_col))
        .distinct()
    )


def keep_first_copy(df: DataFrame, key: str | Column) -> DataFrame:
    """THE keep-first rule: one row per *key* (a column name or
    expression, e.g. ``md5(text)``), the one with the minimum
    ``doc_id``, every column carried. One window over the key —
    deterministic, unlike ``dropDuplicates``."""
    w = Window.partitionBy(key).orderBy(F.asc("doc_id"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def span_coverage(
    spans: DataFrame, state: DataFrame | None = None
) -> DataFrame:
    """THE span-coverage rule over :func:`span_fingerprints` rows
    ``(doc_id, sfp)`` → ``(doc_id, n_spans, n_covered, duplicated)``.

    A span is covered when a lower ``doc_id`` in *spans* holds it
    (the window min over its holders — *spans* is distinct per
    (doc_id, sfp)), or when it is in *state*: the admitted span
    fingerprints ``(sfp)``, passed DISTINCT by the caller, ``None``
    for batch stages. ``duplicated`` is ``n_spans > 0 AND
    2·n_covered ≥ n_spans`` — ties drop. Docs with no spans have no
    row; callers read a missing row as not duplicated."""
    flagged = spans.withColumn(
        "__mn", F.min("doc_id").over(Window.partitionBy("sfp"))
    )
    cov = F.col("__mn") < F.col("doc_id")
    if state is not None:
        flagged = flagged.join(
            state.withColumn("__st", F.lit(1)), "sfp", "left"
        )
        cov = cov | F.col("__st").isNotNull()
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(cov.cast("long")).alias("n_covered"),
        )
        .withColumn(
            "duplicated",
            (F.col("n_spans") > 0)
            & (F.lit(2) * F.col("n_covered") >= F.col("n_spans")),
        )
    )


def _jaccard_on_pairs(
    shingles: DataFrame, id_col: str, pairs: DataFrame | None
) -> DataFrame:
    """Exact Jaccard for (id_a, id_b) pairs given a (id, shingle) table.

    *pairs=None* → all co-shingled pairs (the O(n²)-ish baseline;
    in practice bounded by shingle collisions, not n²).
    """
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    if pairs is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # candidates restrict the join BEFORE the shingle explosion:
        # (id_a, id_b) ⋈ shingles(id_a) ⋈ shingles(id_b, same shingle).
        # Hot shingles never produce non-candidate pairs — this is
        # what makes LSH verification linear in candidates at 100 TB,
        # instead of quadratic in co-shingled documents.
        inter = (
            pairs.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    # `sizes` is corpus-cardinality (one row per input doc, computed
    # BEFORE any candidate restriction) — no broadcast hint: a forced
    # broadcast of a corpus-sized frame would hit Spark's 8 GB limit
    # at 100 TB. AQE broadcasts it when it is actually small and
    # falls back to shuffle joins when it is not.
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard ≥ *threshold*.

    Scale note: the shingle self-join explodes on hot shingles; at
    100 TB use :func:`minhash_lsh_pairs` to restrict to candidates
    (this exact version is the verifier on the candidate set).
    """
    sh = word_shingles(df, id_col, text_col, n)
    return _jaccard_on_pairs(sh, id_col, None).filter(
        F.col("jaccard") >= threshold
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ *threshold*, via AllPairs/
    PPJoin-style prefix filtering — the EXACT (lossless) scale path,
    complementing the probabilistic MinHash route.

    Why it scales: order each document's shingle set by ascending
    global frequency (rarest first; ties on the shingle string).
    If J(a,b) ≥ t, the overlap bound forces a and b to share at
    least one shingle among each one's first ``sz - ceil(t·sz) + 1``
    tokens (prefix principle), so candidates come from an equi-join
    of PREFIXES only — at t=0.8 that's ~20% of each posting list,
    and the rarest-first ordering makes prefix postings short. A
    size-ratio filter (min ≥ t·max) prunes further before the exact
    verify on the candidate set.

    No global rank table: the frequency itself is the sort key, so
    ordering is a per-document window, never a vocabulary-wide
    single-partition window. Output ≡ :func:`ngram_jaccard_pairs`
    (same verifier), which is the oracle for losslessness.
    """
    sh = word_shingles(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__freq"))
    w_doc = Window.partitionBy(id_col).orderBy("__freq", "shingle")
    w_sz = Window.partitionBy(id_col)
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__sz", F.count("*").over(w_sz))
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("__sz").alias("__sz_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("__sz").alias("__sz_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__sz_a", "__sz_b")
            >= F.lit(threshold) * F.greatest("__sz_a", "__sz_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_pairs(sh, id_col, cand).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """Wide MinHash signature: (id, sig_0 … sig_{k-1}).

    Per-seed minimum of md5("seed:shingle") — the classic MinHash
    estimator with the hash family indexed by seed; the md5 hex
    string min (lexicographic) keeps it engine-reproducible.

    All k mins are computed in ONE hash aggregate keyed by *id* —
    no k-fold row blowup, one shuffle of the shingle table. At
    100 TB this is the difference between shuffling 8×|shingles|
    and |shingles| rows.
    """
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(s)), F.col("shingle")))).alias(
            f"sig_{s}"
        )
        for s in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def band_assignments(
    shingles: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH band buckets (id, band, band_sig) from a shingle table —
    the persistable dedup index.

    Band fingerprint = md5(min ‖ max of the band's signature slots),
    computed column-wise from the wide MinHash signature (no extra
    shuffle beyond the signature aggregate). Write this table out
    partitioned by band and appending a day's delta costs only the
    delta's shingles — see :func:`incremental_lsh_pairs`.
    """
    sig = minhash_signatures(shingles, id_col, num_hashes)
    return bands_from_signatures(sig, id_col, num_hashes, band_size)


def bands_from_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Band table from a PRECOMPUTED wide signature frame — lets a
    banding sweep derive every (bands, rows) split from one
    signature pass instead of re-aggregating the shingles per
    configuration."""
    n_bands = num_hashes // band_size
    band_exprs = []
    for b in range(n_bands):
        slots = [f"sig_{i}" for i in range(b * band_size, (b + 1) * band_size)]
        lo = f"least({', '.join(slots)})" if len(slots) > 1 else slots[0]
        hi = f"greatest({', '.join(slots)})" if len(slots) > 1 else slots[0]
        band_exprs.append(f"{b}L, md5(concat({lo}, {hi}))")
    return sig.selectExpr(
        id_col,
        f"stack({n_bands}, {', '.join(band_exprs)}) AS (band, band_sig)",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash→LSH band bucketing→candidate pairs→exact-Jaccard verify.

    The scale path: docs land in (band, band_sig) buckets; only
    bucket collisions become candidate pairs (equi-join, no n²).
    Candidates are then verified with exact Jaccard ≥ *threshold*.
    """
    # raw (non-distinct) shingles feed the band self-join's two map
    # sides AND the confirmation semi-join — branches of ONE action,
    # which the scheduler runs concurrently, so a lazy persist gives
    # no compute dedup there (the r12 rule: persist for cross-ACTION
    # reuse, checkpoint within one fan-out action; converting this
    # site measured 3.9→2.3 s on minhash_dedup_pairs at sf0.1). At
    # 100 TB this is the relation you'd materialize/bucket anyway.
    # MinHash minima are duplicate-insensitive, so signatures skip
    # the distinct entirely; the distinct (set semantics for exact
    # Jaccard) is applied LATER, only over docs that appear in some
    # candidate pair — the big corpus-wide distinct shuffle shrinks
    # to the collision set.
    sh = word_shingles(df, id_col, text_col, n, distinct=False).transform(_ckpt)
    bands = band_assignments(sh, id_col, num_hashes, band_size)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, id_col, "left_semi").distinct()
    return _jaccard_on_pairs(sh_cand, id_col, cand).filter(
        F.col("jaccard") >= threshold
    )


def incremental_lsh_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.8,
    base_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING a delta of new documents, against an
    existing corpus — without re-pairing base×base.

    The daily-operation form of corpus dedup: the base's band
    buckets (:func:`band_assignments`) are the persisted index; only
    the delta computes shingles/signatures, and the candidate join
    probes delta bands against (base ∪ delta) bands. Work scales
    with |delta| and the touched buckets, not |corpus|² or even
    |corpus| — yesterday's pairs are never recomputed.

    *base_bands* (optional) is a PRECOMPUTED (id, band, band_sig)
    index for the base — the maintained ``bands`` sidecar table
    (:mod:`..plans.sidecars`). With it, the base's shingles are
    computed ONLY for confirmation-candidate documents (a semi-join
    on the collision ids), so the base text is never scanned in
    full — the 100 TB ingest shape. It MUST have been built with
    the same (*n*, *num_hashes*, *band_size*) as this call (the
    sidecar ``_meta.json`` pins that); a mismatched index silently
    changes the candidate set.

    Identical collision guarantees to :func:`minhash_lsh_pairs`
    restricted to delta-involving pairs: a delta doc collides with
    any base doc it would have collided with in the full run.
    """
    # eager checkpoints, not persist: both shingle tables feed
    # concurrently-scheduled branches of the one candidate action
    # (see minhash_lsh_pairs). sh_d is delta-sized; sh_b only exists
    # on the legacy reprojection path (with a bands sidecar the base
    # shingles are never computed).
    sh_d = word_shingles(
        delta, id_col, text_col, n, distinct=False
    ).transform(_ckpt)
    bands_d = band_assignments(sh_d, id_col, num_hashes, band_size)
    if base_bands is None:
        sh_b = word_shingles(
            base, id_col, text_col, n, distinct=False
        ).transform(_ckpt)
        bands_b = band_assignments(sh_b, id_col, num_hashes, band_size)
    else:
        sh_b = None
        key = id_col if id_col in base_bands.columns else "doc_id"
        bands_b = base_bands.select(
            F.col(key).alias(id_col), "band", "band_sig"
        )
    all_bands = bands_b.unionByName(bands_d)
    cand = (
        bands_d.alias("a")
        .join(all_bands.alias("b"), ["band", "band_sig"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias(
                "id_b"
            ),
        )
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if sh_b is None:
        # confirmation shingles for the candidate BASE docs only —
        # the sole base-text read, bounded by the collision set
        sh_b = word_shingles(
            base.join(cand_ids, id_col, "left_semi"),
            id_col,
            text_col,
            n,
            distinct=False,
        )
    sh_all = sh_b.unionByName(sh_d)
    sh_cand = sh_all.join(cand_ids, id_col, "left_semi").distinct()
    return _jaccard_on_pairs(sh_cand, id_col, cand).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-document SimHash fingerprint (token-count weighted).

    Bit *i* of the fingerprint is the sign of the count-weighted sum
    of ±1 votes, where token votes come from the parity of hex char
    *i* of md5(token) — a reproducible per-bit hash. Near-duplicate
    docs differ in few bits (small Hamming distance).
    """
    tok_counts = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
    )
    # all `bits` weighted vote-sums in ONE hash aggregate keyed by id
    # (no bits-fold row blowup — shuffle is |tokens|, not bits×|tokens|),
    # then the fingerprint assembles column-wise. md5 is hoisted into
    # a projection so it's computed once per token, not once per bit.
    hashed = tok_counts.withColumn("__h", F.md5("token"))
    bit_sums = [
        F.sum(
            F.col("cnt")
            * (F.expr(f"ascii(substring(__h, {i}, 1))") % 2 * 2 - 1)
        ).alias(f"s_{i}")
        for i in range(1, bits + 1)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for i in range(1, bits + 1):
        bit = F.when(
            F.col(f"s_{i}") > 0, F.lit(1 << (i - 1)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs: Hamming(simhash) ≤ *max_hamming*.

    All-pairs cross join — the LABELED small-scale verifier for
    :func:`simhash_chunk_pairs` (the pigeonhole-blocked form that
    scales); keep this one for ground truth on samples only.
    """
    fp = simhash(df, id_col, text_col, bits)
    a = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_chunk_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 1,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ *max_hamming*, via
    pigeonhole chunk blocking — the 100 TB form of
    :func:`simhash_pairs`.

    Split the *bits*-bit fingerprint into ``max_hamming + 1``
    contiguous chunks: two fingerprints within Hamming distance
    *max_hamming* differ in at most *max_hamming* chunks, so they
    AGREE exactly on at least one chunk (pigeonhole). Candidates are
    therefore an EQUI-join on (chunk_idx, chunk_value) — corpus-sized
    shuffle instead of an n² cross join — and only collisions pay the
    exact Hamming check. Same output as the brute form (pairs sharing
    several chunks are deduplicated).
    """
    n_chunks = max_hamming + 1
    width = -(-bits // n_chunks)  # ceil
    fp = simhash(df, id_col, text_col, bits)
    chunks = [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << min(width, bits - i * width)) - 1))
            .alias("chunk_val"),
        )
        for i in range(n_chunks)
    ]
    exploded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*chunks)).alias("c"),
    ).select(
        id_col, "simhash", F.col("c.chunk_idx").alias("ci"), F.col("c.chunk_val").alias("cv")
    )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "ci", "cv"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "ci", "cv"
    )
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
#
# Float determinism: a left-to-right fold over the array order makes
# the double sum bit-reproducible, and both Spark (``aggregate`` HOF)
# and DuckDB (``list_reduce``) fold sequentially — so the cosine is
# cross-engine exact without decimal tricks (which are unsafe for
# arbitrary doubles: Spark's double→decimal cast goes through the
# shortest string repr, DuckDB through the exact binary expansion).


def dot_expr(a: str, b: str) -> Column:
    """Sequential-fold dot product of two array<float> columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Append the L2 norm of *vec_col* as ``__norm``."""
    norm2 = F.expr(
        f"aggregate(transform({vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0D, (acc, v) -> acc + v)"
    )
    return df.withColumn("__norm", F.sqrt(norm2))


def _normed(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """:func:`with_norm`, minus the vectors whose norm is zero or
    NULL — the one rule of every cosine search and kernel. No cosine
    against such a vector is defined: the JVM fold raises
    DIVIDE_BY_ZERO under ANSI mode (and ranks the NaN first without
    it), numpy sorts the NaN last.

    The test reads the elements — a NULL vector, a NULL element or
    no non-zero element — instead of ``__norm > 0``. Spark pushes a
    filter on the norm below the projection that computes it, so the
    interpreted fold would run twice per vector (+25 ms per 2,000
    64-dim vectors in one task, measured on a 4-vCPU host);
    ``exists`` stops at the first non-zero element. The two tests
    agree on every float32 vector; on doubles they differ only when
    each non-zero element is below ~1e-162, whose square underflows.
    Neither ``exists`` nor ``forall`` is a comparison, so Spark's
    runtime-filter rule does not take the filter as selective and
    inject a bloom-filter subquery (two more jobs) into joins against
    frames of unknown size, such as checkpoints."""
    return with_norm(
        df.where(
            f"exists({vec_col}, x -> x != 0)"
            f" AND forall({vec_col}, x -> x IS NOT NULL)"
        ),
        vec_col,
    )


# --- blocked Arrow/numpy kernel helpers (r14 optimization) -----------------
#
# The interpreted ``aggregate`` fold costs ~5 µs per 64-dim dot
# evaluation; the all-pairs verifiers evaluate millions. These
# helpers let a pandas cogroup hand (queries × corpus-block) tiles
# to numpy, which folds the dot LEFT-TO-RIGHT OVER DIMENSIONS with
# vectorized elementwise ops — the identical IEEE operation sequence
# to the ``aggregate`` fold above and DuckDB's ``list_reduce``, so
# every cosine is bit-identical cross-engine (elementwise float64
# add/mul/div and sqrt are correctly rounded in both numpy and the
# JVM). The norms ride on the rows from :func:`_normed`, so no
# kernel sees a zero- or NULL-norm vector.

# corpus hash blocks of the all-pairs kernels (result-invariant)
_BLOCKS = 8


def _np_mats(pdf, id_col: str, vec_col: str, norm_col: str):
    """(ids, float64 matrix, norms) from a pandas group."""
    import numpy as np

    return (
        pdf[id_col].to_numpy(),
        np.stack(pdf[vec_col].to_numpy()).astype(np.float64),
        pdf[norm_col].to_numpy(),
    )


def _np_cosines(qm, cm, qn, cn):
    """All (query × corpus) cosines, dims folded in index order."""
    import numpy as np

    acc = np.zeros((qm.shape[0], cm.shape[0]), dtype=np.float64)
    for d in range(qm.shape[1]):
        acc = acc + qm[:, d][:, None] * cm[:, d][None, :]
    return acc / (qn[:, None] * cn[None, :])


def _blocked(df: DataFrame, id_col: str, num_blocks: int) -> DataFrame:
    """Tag rows with a deterministic hash block (result-invariant:
    blocking only partitions the pair space, never the output)."""
    return df.withColumn(
        "__gb",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int"),
    )


def _replicated(df: DataFrame, num_blocks: int) -> DataFrame:
    """Replicate every row into all blocks (the query side)."""
    return df.withColumn(
        "__gb", F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1)))
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.46,
) -> DataFrame:
    """All pairs with cosine similarity ≥ *threshold*.

    Brute-force O(n²) — correct baseline and verifier. At 100 TB,
    generate candidates with sign-LSH buckets first
    (:func:`.similarity.lsh_buckets`) and verify only collisions.
    Vectors with a zero or NULL norm are left out (no cosine against
    them is defined).

    r14: the pair space is tiled through the blocked Arrow/numpy
    kernel (one pandas cogroup task per corpus hash block, the other
    side replicated) instead of a JVM crossJoin evaluating the
    interpreted ``aggregate`` fold per pair — measured 10.6 → ~1.5 s
    at sf0.1 with bit-identical cosines (see the kernel notes above
    and tests/test_blocked_cosine_kernel.py). The block count only
    tiles the computation; any value yields the same output.
    """

    def fn(apdf, bpdf):
        import numpy as np
        import pandas as pd

        if len(apdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        aids, am, an = _np_mats(apdf, id_col, vec_col, "__norm")
        bids, bm, bn = _np_mats(bpdf, "__rid", "__rvec", "__rnorm")
        cos = _np_cosines(am, bm, an, bn)
        keep = (aids[:, None] < bids[None, :]) & (cos >= threshold)
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": aids[ai], "id_b": bids[bi], "cosine": cos[ai, bi]}
        )

    n = _normed(df.select(id_col, vec_col), vec_col)
    a_exp = _replicated(n, _BLOCKS)
    # the corpus side gets DISJOINT column names: a self-cogroup of
    # one base frame otherwise leaves the Python function's argument
    # list referencing the left side's attribute ids, and column
    # pruning then strips the right child to its grouping key
    # (KeyError in the kernel under count()-shaped consumers)
    b_blk = _blocked(
        n.select(
            F.col(id_col).alias("__rid"),
            F.col(vec_col).alias("__rvec"),
            F.col("__norm").alias("__rnorm"),
        ),
        "__rid",
        _BLOCKS,
    )
    # id output fields take the INPUT id column's type (r14 ADVICE:
    # hardcoded bigint broke/coerced string-id callers that the old
    # JVM crossJoin path accepted)
    id_t = df.schema[id_col].dataType.simpleString()
    return (
        a_exp.groupby("__gb")
        .cogroup(b_blk.groupby("__gb"))
        .applyInPandas(fn, f"id_a {id_t}, id_b {id_t}, cosine double")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_rep).

    The deliverable of a dedup pipeline is a keep/drop list, not a
    pair list; pairs chain (A~B, B~C ⇒ one cluster), so cluster =
    connected component, representative = min id in the component.

    Iterative min-label propagation: each round, every node takes
    the min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds (near-dup components are shallow —
    a handful of rounds in practice, bounded by *max_iter*). Each
    round is one join + aggregate. This is the standard large-graph
    CC recipe (GraphFrames does the same under the hood) without
    leaving DataFrames.

    Deep-component hardening: each round's labels, with a per-row
    change flag, are ``localCheckpoint``-ed (one job), and
    convergence is then read by a SEPARATE ``agg(...).collect()``
    over that checkpoint — a second, small job per round that sums
    the flags from the materialized blocks without re-running the
    join. The checkpoint cuts the plan to those blocks, so lineage
    (and task-retry cost) stays O(1) per round instead of growing by
    one join per iteration, which matters when a chain-shaped
    component forces many rounds.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct().persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("new_label"),
                (F.coalesce("nmin", F.col("label")) < F.col("label")).alias(
                    "__changed"
                ),
            )
        )
        # one job: truncate lineage AND materialize this round's labels
        stepped = stepped.localCheckpoint(eager=True)
        # the convergence probe aggregates the tiny checkpointed frame
        changed = stepped.agg(
            F.sum(F.col("__changed").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if not changed:
            break
    edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_rep"))


def embedding_lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.46,
    num_planes: int = 2,
    num_tables: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup, the scale path: multi-table sign-LSH
    bucket joins generate candidates (OR-amplified recall), cosine
    verifies — the cross join never happens. Pairs it misses are
    those split across buckets in every table, measurable against
    :func:`embedding_cosine_pairs`.
    """
    from .similarity import lsh_candidate_pairs

    cand = lsh_candidate_pairs(
        df.select(id_col, vec_col), id_col, vec_col, num_planes, num_tables, dim
    )
    n = with_norm(df.select(id_col, vec_col), vec_col)
    a = n.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
    )
    bb = n.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    verified = cand.join(a, "id_a").join(bb, "id_b")
    cos = (dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias(
        "cosine"
    )
    return verified.select("id_a", "id_b", cos).filter(
        F.col("cosine") >= threshold
    )


# ---------------------------------------------------------------------------
# blocked fuzzy matching (entity resolution)
# ---------------------------------------------------------------------------


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int = 3,
) -> DataFrame:
    """Candidate duplicate pairs by edit distance WITHIN blocks.

    Classic entity-resolution shape: an equi-join on cheap blocking
    keys replaces the quadratic all-pairs comparison; the expensive
    O(len²) Levenshtein runs only inside each block. At 100 TB the
    block join shuffles on the blocking key (salt a hot block if one
    dominates); pair volume is Σ|block|², so pick keys that keep
    blocks small. Output: (id_a, id_b, dist), dist ≤ *max_dist*.
    """
    a = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.lower(F.col(text_col)).alias("__ta"),
    )
    b = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.lower(F.col(text_col)).alias("__tb"),
    )
    return (
        a.join(b, block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def cluster_size_histogram(
    df: DataFrame, key: Column | str = "text"
) -> DataFrame:
    """Duplicate-cluster size distribution — the dataset-health
    metric behind "what fraction of the corpus is copies".

    Groups rows by a content key (default: md5 of the text payload,
    i.e. exact-duplicate clusters) and histograms the cluster sizes:
    (cluster_size, n_clusters, n_docs). Two hash aggregates; the
    second runs over one row per cluster, the third over one row per
    distinct size — nothing bigger than the corpus shuffles once.
    """
    c = F.md5(F.col(key).cast("string")) if isinstance(key, str) else key
    sizes = df.groupBy(c.alias("__h")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def contamination_overlap(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-decontamination scan: which training documents share
    word *n*-gram shingles with any held-out/eval document?

    The standard pre-training hygiene step (eval-set leakage makes
    benchmark numbers meaningless): shingle both sides, equi-join on
    the shingle, count distinct shared shingles per training doc.

    Output: (train_doc_id, n_shared_shingles, n_eval_docs) for docs
    with ≥ *min_shared* shared shingles.

    Scale shape: the join is shingle-keyed — cost ∝ true collisions,
    never |train| × |eval|. The eval side is benchmark-sized (maybe
    millions of shingles, not billions), so Spark broadcasts it under
    AQE; the train side streams through map-side. Boilerplate
    shingles that would blow up the join (present in thousands of
    docs each side) should be removed upstream via
    :func:`remove_boilerplate_lines` — or cap df per shingle like
    :func:`~..operators.search.tfidf_cosine_pairs` does.
    """
    t = word_shingles(train, id_col, text_col, n=n, distinct=True)
    e = word_shingles(eval_set, id_col, text_col, n=n, distinct=True)
    return (
        t.alias("t")
        .join(
            e.select(
                F.col("shingle"), F.col(id_col).alias("__eval_id")
            ).alias("e"),
            "shingle",
        )
        .groupBy(F.col(id_col).alias("train_doc_id"))
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("__eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def source_pair_jaccard(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-level similarity matrix: exact Jaccard of the distinct
    word-*n*-gram shingle SETS of each pair of sources.

    The corpus-health companion to per-document dedup — "how much of
    source A is re-hosted in source B" drives mixture weights and
    crawl dedup priorities.

    Output: (group_a, group_b, n_inter, size_a, size_b, jaccard) for
    every unordered pair with a non-empty intersection.

    Scale shape: shingles collapse to DISTINCT (group, shingle) first
    — the self-join then runs over set elements, keyed by shingle, so
    cost ∝ shared shingles × groups sharing them (groups number in
    the hundreds, not the corpus size). Never materializes the
    |G|² × |shingles| cross product.
    """
    gs = (
        word_shingles(df.select(group_col, text_col), group_col, text_col, n=n)
        .select(F.col(group_col).alias("g"), "shingle")
        .distinct()
    )
    sizes = gs.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        gs.alias("a")
        .join(gs.alias("b"), "shingle")
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(
            F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("g").alias("group_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("g").alias("group_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            "n_inter",
            "size_a",
            "size_b",
            (
                F.col("n_inter").cast("double")
                / (
                    F.col("size_a") + F.col("size_b") - F.col("n_inter")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row numbers in (order_cols) order WITHOUT the
    single-partition window anti-pattern.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY drags
    the whole table through one task — a non-starter at 100 TB. This
    is the two-pass idiom instead: range-repartition on the sort key
    (Spark samples split points), sort within partitions, then add
    each partition's cumulative row-count offset to a per-partition
    row number. Only the per-partition COUNTS visit the driver (one
    row per partition); *order_cols* must be a total order (include a
    unique tiebreaker) so the numbering is deterministic regardless
    of where the sampled range boundaries land.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    # persist() is CORRECTNESS-critical, not a cache hint:
    # repartitionByRange samples its split points with a seed derived
    # from the materialized RDD's id, which differs per ACTION — so
    # the counts job below and the caller's final job would otherwise
    # range-partition DIFFERENTLY, mismatching the offsets and
    # duplicating row numbers (caught by the sf0.1 sweep). One
    # materialization pins the boundaries; lost-partition recompute
    # reuses the cached RDD's lineage (same seed), so it stays
    # consistent on executor loss. The handle is deliberately leaked
    # for the same reason it exists: the returned frame must keep
    # reading THIS materialization — callers release it via
    # `spark.catalog.clearCache()` once their action completes.
    sorted_df = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # one row per partition — bounded collect (≤ num_partitions)
    counts = {
        r["__pid"]: r["cnt"]
        for r in sorted_df.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "__pid int, __off long",
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        sorted_df.join(F.broadcast(off), "__pid")
        .withColumn(out_col, F.col("__off") + F.row_number().over(w))
        .drop("__pid", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sort_col: str | None = None,
    window: int = 5,
    max_dist: int = 8,
) -> DataFrame:
    """Sorted-neighborhood entity-resolution pairs: sort the corpus
    by a blocking key, then compare each record only to its *window*
    successors in sort order — the classic merge/purge alternative to
    hash blocking (`blocked_fuzzy_pairs`) that also catches
    near-misses that straddle a block boundary.

    The neighborhood join is an EQUI-join: explode offsets 1..w on
    the left side and match ``rn + off = rn``, so Catalyst plans a
    shuffle-hash/sort-merge join on the row number rather than a
    θ-join. Pair volume is exactly n·w; Levenshtein runs only on
    those pairs. Global row numbers come from
    :func:`global_row_number` (two-pass, no single-partition sort).
    Output: (id_a, id_b, dist) with dist ≤ *max_dist*.
    """
    sort_col = sort_col or text_col
    base = df.select(
        F.col(id_col).alias("__id"),
        F.lower(F.col(text_col)).alias("__txt"),
        F.lower(F.col(sort_col)).alias("__key"),
    )
    rn = global_row_number(base, ["__key", "__id"], out_col="rn")
    left = rn.select(
        F.col("__id").alias("id_a"),
        F.col("__txt").alias("__ta"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + window)
        ).alias("rn_b"),
    )
    right = rn.select(
        F.col("rn").alias("rn_b"),
        F.col("__id").alias("id_b"),
        F.col("__txt").alias("__tb"),
    )
    return (
        left.join(right, "rn_b")
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Document pairs where either side's shingle set is ≥
    *threshold* CONTAINED in the other: containment(A→B) =
    |A∩B| / |A|. Catches the subset-duplicates Jaccard misses —
    a snippet quoted inside a longer page scores J = |A|/|B| (small)
    but containment(A→B) = 1.0; the near-dup class boilerplate
    stripping and syndication produce at scale.

    Same shingle-equi-join shape as :func:`ngram_jaccard_pairs`
    (cost ∝ shingle collisions, never corpus²; at 100 TB restrict
    to LSH candidates exactly like the Jaccard verifier). All three
    scores are one integer-ratio division each — engine-exact.

    The shingle table is deliberately NOT persisted despite its
    three consumers (sizes + both self-join sides): everything sits
    in ONE lazy plan, where ReusedExchange dedupes the distinct
    shuffle at runtime — persisting measured ~20% SLOWER at sf0.1
    (cache materialization overhead; the same measured rule as the
    PCA covariance, pca.py:111).
    Output: (id_a, id_b, n_inter, sz_a, sz_b, containment_a_in_b,
    containment_b_in_a, jaccard), id_a < id_b.
    """
    sh = word_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # No broadcast hint on `sizes` (corpus-cardinality): AQE
    # broadcasts when small, shuffle-joins when not — a forced hint
    # here is a 100 TB scale hazard (see _jaccard_on_pairs).
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            (F.col("n_inter") / F.col("sz_a")).alias("containment_a_in_b"),
            (F.col("n_inter") / F.col("sz_b")).alias("containment_b_in_a"),
            (
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(
        (F.col("containment_a_in_b") >= F.lit(threshold))
        | (F.col("containment_b_in_a") >= F.lit(threshold))
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Estimator-accuracy report: MinHash-estimated Jaccard
    (matching signature slots / k) vs EXACT Jaccard on the LSH
    candidate pairs — the calibration table that justifies a chosen
    (k, band) configuration before trusting the sketch at scale
    (E[est] = J, σ = sqrt(J(1−J)/k); with k=8 the estimate is a
    coarse 1/8 grid, which is the point of surfacing it).

    Grouped by the estimate's grid value: (est_jaccard, n_pairs,
    mean_exact_jaccard, mean_abs_err). Means are 1e-8-quantized
    integer sums divided out at the end (order-free, SQL-exact);
    est and each |err| are single IEEE ops on exact ratios.

    Scale shape: identical to :func:`minhash_lsh_pairs` — band-bucket
    candidate join, exact verify restricted to candidates, then a
    9-row-bounded aggregate. Nothing new shuffles.
    """
    # eager checkpoint: sig, bands, and the confirmation semi-join
    # are concurrent branches of one action (see minhash_lsh_pairs)
    sh = word_shingles(
        df, id_col, text_col, n, distinct=False
    ).transform(_ckpt)
    sig = minhash_signatures(sh, id_col, num_hashes)
    bands = band_assignments(sh, id_col, num_hashes, band_size)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, id_col, "left_semi").distinct()
    exact = _jaccard_on_pairs(sh_cand, id_col, cand)
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sig_{s}").alias(f"__a{s}") for s in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sig_{s}").alias(f"__b{s}") for s in range(num_hashes)],
    )
    matches = sum(
        (
            F.when(F.col(f"__a{s}") == F.col(f"__b{s}"), 1).otherwise(0)
            for s in range(num_hashes)
        ),
        F.lit(0),
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    per_pair = (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            est.alias("est_jaccard"),
            F.floor(F.col("jaccard") * F.lit(1e8))
            .cast("decimal(38,0)")
            .alias("__qj"),
            F.floor(F.abs(est - F.col("jaccard")) * F.lit(1e8))
            .cast("decimal(38,0)")
            .alias("__qe"),
        )
    )
    n_pairs = F.count(F.lit(1))
    return (
        per_pair.groupBy("est_jaccard")
        .agg(
            n_pairs.cast("long").alias("n_pairs"),
            (
                (F.sum("__qj").cast("double") / F.lit(1e8))
                / n_pairs.cast("double")
            ).alias("mean_exact_jaccard"),
            (
                (F.sum("__qe").cast("double") / F.lit(1e8))
                / n_pairs.cast("double")
            ).alias("mean_abs_err"),
        )
    )


def _mult_chain(x: Column, p: int) -> Column:
    """x**p for p in {1,2,4,8} via an explicit multiplication chain
    (x2=x*x, x4=x2*x2, ...) — bit-identical in any engine, unlike
    libm pow whose last-ulp rounding differs across runtimes."""
    assert p in (1, 2, 4, 8)
    y = x
    while p > 1:
        y = y * y
        p //= 2
    return y


def lsh_band_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_sizes: tuple[int, ...] = (1, 2, 4),
    j_floor: float = 0.2,
) -> DataFrame:
    """Banding s-curve sweep: for each (bands, rows-per-band) split
    of the k-hash MinHash signature, the DETECTION RATE over true
    Jaccard pairs (J ≥ *j_floor*), bucketed by 0.2-wide Jaccard
    bins, next to the classic s-curve reference 1−(1−J^r)^b — the
    table that picks the banding before the sketch gates a corpus
    (steep curve past the dedup threshold, flat below it).

    Ground truth is the exact co-shingle pair join (the brute tier —
    this is a run-occasionally CALIBRATION audit; at 100 TB run it
    on a sampled stratum, the per-config candidate joins themselves
    stay banded/linear). The truth table and shingles are computed
    once and persisted across the per-config branches. The reference
    curve uses explicit multiplication chains (see
    :func:`_mult_chain`), so a SQL oracle reproduces every double
    bit-for-bit; detection joins use the same min‖max band
    fingerprint as :func:`band_assignments`.

    Output: (bands, rows_per_band, j_bin5, n_pairs, n_detected,
    detect_rate, mean_theory_detect); j_bin5 = floor(J·5).
    """
    # eager checkpoints: every banding configuration is a branch of
    # the ONE returned-union action, so lazily-cached shared frames
    # would be recomputed per branch (see minhash_lsh_pairs)
    sh = word_shingles(df, id_col, text_col, n).transform(_ckpt)
    truth = (
        _jaccard_on_pairs(sh, id_col, None)
        .filter(F.col("jaccard") >= F.lit(j_floor))
        .transform(_ckpt)
    )
    # ONE signature pass feeds every banding configuration
    sig = minhash_signatures(sh, id_col, num_hashes).transform(_ckpt)
    parts = []
    for r in band_sizes:
        n_bands = num_hashes // r
        bands = bands_from_signatures(sig, id_col, num_hashes, r)
        cand = (
            bands.alias("a")
            .join(bands.alias("b"), ["band", "band_sig"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        jr = _mult_chain(F.col("jaccard"), r)
        miss = _mult_chain(F.lit(1.0) - jr, n_bands)
        theory = F.lit(1.0) - miss
        qth = F.floor(theory * F.lit(1e8)).cast("long")
        flagged = truth.join(cand, ["id_a", "id_b"], "left")
        parts.append(
            flagged.groupBy(
                F.floor(F.col("jaccard") * F.lit(5.0))
                .cast("long")
                .alias("j_bin5")
            ).agg(
                F.lit(n_bands).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum(F.coalesce("__hit", F.lit(0)))
                .cast("long")
                .alias("n_detected"),
                (
                    F.sum(F.coalesce("__hit", F.lit(0))).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("detect_rate"),
                (
                    (F.sum(qth).cast("double") / F.lit(1e8))
                    / F.count(F.lit(1)).cast("double")
                ).alias("mean_theory_detect"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "bands",
        "rows_per_band",
        "j_bin5",
        "n_pairs",
        "n_detected",
        "detect_rate",
        "mean_theory_detect",
    )


# ---------------------------------------------------------------------------
# URL / domain-tier dedup and cross-document substring spans
# ---------------------------------------------------------------------------


def normalize_url(url: Column) -> Column:
    """Canonical URL key for keep-one-per-URL dedup (the CCNet /
    RefinedWeb web-corpus first pass): lowercase, scheme stripped,
    query string and fragment dropped, leading ``www.`` dropped,
    trailing slash trimmed. Pure Column expressions; every pattern
    is anchored or suffix-greedy, so Spark's replace-all and
    DuckDB's replace-first regexp semantics agree and the operator
    stays oracle-checkable."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"/$", "")
    return u


def url_dedup_health(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """Domain-tier URL dedup report: normalize every URL
    (:func:`normalize_url`), collapse to one keeper per canonical
    URL (min id — deterministic), then roll the dedup health up per
    domain: how many docs, how many survive, the duplication rate.

    Scale shape: ONE hash-aggregate on the canonical URL (shuffles
    (url_key, id) pairs, never payloads — the ``exact_dedup``
    recipe keyed by URL instead of content hash) followed by a
    domain-cardinality aggregate. No joins, no pair space. The
    domain tier is where web-corpus curation applies per-site
    policies (crawl quotas, boilerplate priors), so the rollup
    reports the tier those policies key on.

    Output: (domain, n_docs, n_urls, n_dup_docs, dup_rate,
    first_keeper).
    """
    per_url = (
        df.select(
            F.col(id_col), normalize_url(F.col(url_col)).alias("__url")
        )
        .groupBy("__url")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs_url"),
        )
    )
    return (
        per_url.groupBy(
            F.regexp_extract("__url", r"^([^/]+)", 1).alias("domain")
        )
        .agg(
            F.sum("n_docs_url").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_urls"),
            (F.sum("n_docs_url") - F.count("*"))
            .cast("long")
            .alias("n_dup_docs"),
            (
                (
                    F.sum("n_docs_url").cast("double")
                    - F.count("*").cast("double")
                )
                / F.sum("n_docs_url").cast("double")
            ).alias("dup_rate"),
            F.min("keeper_id").alias("first_keeper"),
        )
    )


def cross_doc_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Cross-document duplicated-span report, the windowed form of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every distinct
    *window*-token span is fingerprinted, spans seen in ≥2 documents
    are duplicated training text, and each document reports what
    fraction of its spans is shared. Exact-substring twin of the
    shingle/MinHash tier — same explode, but the verdict is
    per-span exact equality, no sketch.

    Scale shape: ONE scan + explode (the span table is never
    materialized twice — a count-then-join formulation re-scans and
    re-explodes the corpus, and its per-span count side is itself
    corpus-sized, so it must never be broadcast); spans carry a
    32-byte md5 fingerprint, never the span text. The cross-doc
    count is a window count partitioned by fingerprint — the same
    single shuffle key a groupBy would use, with the verdict already
    sitting on each (doc, span) row. Shuffles: dedup on (id, fp),
    window on fp, final per-doc aggregate — all linear in corpus
    tokens, no pair space, no driver round-trip. A boilerplate-hot
    span skews its window partition; AQE's skew handling or a
    pre-filter on known boilerplate (operators/text.py) is the
    100 TB mitigation. A full suffix array finds arbitrary-length
    repeats; the fixed window catches every repeat ≥ *window* tokens
    (a repeat of length L ≥ W contains L−W+1 duplicated windows),
    which is the form the public pipelines deploy at corpus scale.

    Output: (id, n_spans, n_dup_spans, dup_span_rate), one row per
    document with at least one span.
    """
    spans = span_fingerprints(df, id_col, text_col, window, fp_col="__fp")
    n_docs = F.count("*").over(Window.partitionBy("__fp"))
    return (
        spans.withColumn("__n_docs", n_docs)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum((F.col("__n_docs") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_spans"),
            (
                F.sum((F.col("__n_docs") >= 2).cast("long")).cast("double")
                / F.count("*").cast("double")
            ).alias("dup_span_rate"),
        )
    )


def _span_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    tokenizer: Callable[[str], Column] | None = None,
) -> DataFrame:
    """(id, pos, __fp): every *window*-token span with its 1-based
    token position and md5 fingerprint — the shared explode behind
    the merged-interval operators. *tokenizer* maps the text column
    name to an ARRAY<STRING> Column (tokens must not contain spaces
    — span keys are space-joined slices); default is the lowercased
    whitespace split."""
    toks = (
        tokenizer(text_col)
        if tokenizer is not None
        else F.split(F.lower(F.col(text_col)), " ")
    )
    shingle_arr = F.expr(
        f"CASE WHEN size(__toks) >= {window} THEN "
        f"transform(sequence(1, size(__toks) - {window - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {window}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.posexplode(shingle_arr))
        .select(
            F.col(id_col),
            (F.col("pos") + 1).alias("pos"),  # 1-based, oracle parity
            F.md5("col").alias("__fp"),
        )
    )


def _merged_islands(
    dup: DataFrame, id_col: str
) -> DataFrame:
    """Merge flagged span intervals (id, pos, __end) per id via
    gaps-and-islands; returns (id, covered_tokens, n_dup_spans)."""
    prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dup.withColumn(
            "__new",
            (
                F.col("pos")
                > F.coalesce(F.max("__end").over(prev), F.lit(-1))
            ).cast("long"),
        )
        .withColumn("__island", F.sum("__new").over(run))
        .groupBy(id_col, "__island")
        .agg(
            (F.max("__end") - F.min("pos") + 1).alias("__covered"),
            F.count(F.lit(1)).alias("__n_spans"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__covered").cast("long").alias("covered_tokens"),
            F.sum("__n_spans").cast("long").alias("n_dup_spans"),
        )
    )


def merged_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    tokenizer: Callable[[str], Column] | None = None,
) -> DataFrame:
    """Exact duplicated-TEXT fraction per document via merged span
    intervals — the refinement of :func:`cross_doc_span_stats` span
    counting. Counting duplicated W-token windows over-weights long
    repeats (a repeat of length L contributes L−W+1 windows but only
    L tokens): here every duplicated window [pos, pos+W) becomes an
    interval, overlapping/chained intervals merge (gaps-and-islands:
    an interval starting at or before the running max end joins the
    island; islands are contiguous by construction, so island
    coverage is max_end − min_start + 1), and the per-doc covered
    token total is the EXACT union length — the doc-level measure
    Lee et al.'s suffix-array pipeline reports as "fraction of text
    removed".

    Scale shape: one posexplode (linear in corpus tokens), one
    hash-aggregate keyed on the span fingerprint for the cross-doc
    count, one fp-keyed join back (both sides shuffle on fp — never
    broadcast: the fingerprint table is corpus-sized), then two
    per-doc window passes over ONLY the duplicated positions (the
    duplicated subset is usually a small fraction of spans, so the
    island windows are cheap). No pair space.

    *tokenizer* swaps the span alphabet (default: lowercased
    whitespace tokens; pass :func:`..text.bpe_ish_tokens` for the
    trainer-view token stream — n_tokens and coverage are then in
    that alphabet too).

    Output: (id, n_tokens, n_dup_spans, covered_tokens, coverage) —
    one row per input document; dup-free and short docs report 0.
    """
    sp = _span_positions(df, id_col, text_col, window, tokenizer)
    nd = (
        sp.select(id_col, "__fp")
        .distinct()
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
    )
    dup = (
        sp.join(nd, "__fp")
        .filter(F.col("__n_docs") >= 2)
        .select(
            F.col(id_col),
            "pos",
            (F.col("pos") + F.lit(window - 1)).alias("__end"),
        )
    )
    islands = _merged_islands(dup, id_col)
    toks = (
        tokenizer(text_col)
        if tokenizer is not None
        else F.split(F.lower(F.col(text_col)), " ")
    )
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens")
    )
    return base.join(islands, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("covered_tokens", F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        (
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("coverage"),
    )


def quality_keeper_drops(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Quality-aware drop set for confirmed near-dup *pairs*
    (id_a < id_b): per pair, drop the LOWER-quality side; on ties
    drop the higher id (so min-id greedy is the tie policy, and
    passing a constant quality reproduces the classic keep-first
    drop exactly).

    Greedy per-pair, like the keep-first policy it replaces: in a
    chain A~B~C the union of per-pair losers is dropped, which can
    drop both endpoints' middle doc twice (harmless) or drop a doc
    that was the keeper of another pair (the transitive-cluster
    variant — ``near_dup_clusters`` — is the alternative when
    cluster-level keep-one semantics are wanted).

    Missing-quality fallback (the r10-ADVICE fix — the joins are
    LEFT, so a pair is never silently dropped from the drop set): a
    side absent from *quality* loses to a scored side (no quality
    signal → treat as lowest quality), and a pair with BOTH sides
    unscored falls back to the keep-first tie policy (drop the
    higher id). Callers that want coverage to be an invariant can
    still assert it, but the default is the safe one: every
    confirmed pair contributes exactly one drop.

    Scale shape: pairs are the (small) LSH-verified collision set;
    the two quality lookups shuffle pairs against the per-doc
    quality projection on the id key — never a broadcast of the
    corpus-sized quality side.

    Output: distinct (*id_col*) rows to anti-join away.
    """
    qa = quality.select(
        F.col(id_col).alias("id_a"), F.col(quality_col).alias("__qa")
    )
    qb = quality.select(
        F.col(id_col).alias("id_b"), F.col(quality_col).alias("__qb")
    )
    loser = (
        F.when(
            F.col("__qa").isNull() & F.col("__qb").isNull(), F.col("id_b")
        )
        .when(F.col("__qa").isNull(), F.col("id_a"))
        .when(F.col("__qb").isNull(), F.col("id_b"))
        .when(F.col("__qa") >= F.col("__qb"), F.col("id_b"))
        .otherwise(F.col("id_a"))
    )
    return (
        pairs.join(qa, "id_a", "left")
        .join(qb, "id_b", "left")
        .select(loser.alias(id_col))
        .distinct()
    )


def span_contamination(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    tokenizer: Callable[[str], Column] | None = None,
) -> DataFrame:
    """Span-level benchmark decontamination (the GPT-3/PaLM report
    form, refined per Lee et al.): for each corpus document, the
    EXACT fraction of its text covered by *window*-token spans that
    also appear in the *reference* (benchmark/eval) set — merged
    intervals, so a long verbatim inclusion counts its true length,
    not its window count. Doc-level n-gram-overlap decontamination
    (`benchmark_contamination`) flags documents; this reports HOW
    MUCH of each document is benchmark text, the number the
    published contamination appendices table.

    Scale shape: both sides pay one span explode; the flagging join
    shuffles on the span fingerprint (reference side is
    benchmark-sized — small — but the join stays fp-keyed, not
    broadcast, so the operator survives a corpus-sized reference);
    islands merge per corpus doc over only the flagged positions.
    Same-id spans are excluded, so a benchmark doc embedded in the
    corpus doesn't flag itself.

    *tokenizer* swaps the span alphabet on BOTH sides (default:
    lowercased whitespace tokens; pass :func:`..text.bpe_ish_tokens`
    for the trainer-view token stream — the GPT-3-appendix
    normalization, so contamination is measured on what the trainer
    actually sees rather than raw whitespace words).

    Output: (id, n_tokens, n_contaminated_spans, covered_tokens,
    contamination, is_contaminated) — one row per corpus document.
    """
    csp = _span_positions(corpus, id_col, text_col, window, tokenizer)
    rfp = (
        _span_positions(reference, id_col, text_col, window, tokenizer)
        .select(F.col(id_col).alias("__rid"), "__fp")
        .distinct()
    )
    flagged = (
        csp.join(rfp, "__fp")
        .filter(F.col(id_col) != F.col("__rid"))
        .select(
            F.col(id_col),
            "pos",
            (F.col("pos") + F.lit(window - 1)).alias("__end"),
        )
        .distinct()  # a span may match several reference docs
    )
    islands = _merged_islands(flagged, id_col)
    toks = (
        tokenizer(text_col)
        if tokenizer is not None
        else F.split(F.lower(F.col(text_col)), " ")
    )
    base = corpus.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens")
    )
    return base.join(islands, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0))
        .cast("long")
        .alias("n_contaminated_spans"),
        F.coalesce("covered_tokens", F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        (
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("contamination"),
        (F.coalesce("covered_tokens", F.lit(0)) > 0)
        .cast("long")
        .alias("is_contaminated"),
    )


def _flagged_islands(dup: DataFrame, id_col: str) -> DataFrame:
    """Merge flagged span intervals (id, pos, __end) per id and keep
    the island BOUNDS: (id, __s, __e) — the interval form needed
    when covered positions must be materialized (span removal),
    not just counted (:func:`_merged_islands`)."""
    prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dup.withColumn(
            "__new",
            (
                F.col("pos")
                > F.coalesce(F.max("__end").over(prev), F.lit(-1))
            ).cast("long"),
        )
        .withColumn("__island", F.sum("__new").over(run))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("__s"),
            F.max("__end").alias("__e"),
        )
        .select(id_col, "__s", "__e")
    )


def _owner_flagged_spans(
    sp: DataFrame, id_col: str, window: int
) -> DataFrame:
    """Flag every span position whose fingerprint is held by ≥2 docs
    and whose canonical owner (global min id over the fingerprint's
    holders) is a DIFFERENT document — the Lee-et-al owner policy
    shared by :func:`span_removal` (excise) and the loss-mask
    manifest (mask): one place for the keeper rule, so a policy
    change can never make the two consumers disagree about which
    copy is canonical. Input: a :func:`_span_positions` frame;
    output (id, pos, __end) inclusive intervals. SQL twin:
    ``queries._span_sql.ownership_flagged``."""
    own = (
        sp.groupBy("__fp")
        .agg(
            F.min(id_col).alias("__owner"),
            F.count_distinct(F.col(id_col)).alias("__n_docs"),
        )
        .filter(F.col("__n_docs") >= 2)
        .select("__fp", "__owner")
    )
    return (
        sp.join(own, "__fp")
        .filter(F.col(id_col) != F.col("__owner"))
        .select(
            F.col(id_col),
            "pos",
            (F.col("pos") + F.lit(window - 1)).alias("__end"),
        )
    )


def span_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    tokenizer: Callable[[str], Column] | None = None,
) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    every *window*-token span seen in ≥2 documents keeps exactly ONE
    canonical copy — the min-id holder of its fingerprint — and is
    excised from every other document; the output carries the
    REWRITTEN text. This is the operation the coverage stats
    (:func:`merged_span_coverage`) only report on: the corpus that
    actually ships to the trainer.

    Semantics: a token position is removed iff it is covered by a
    duplicated span whose canonical owner (global min id over the
    fingerprint's holders) is a DIFFERENT document. Owners keep
    their text even when the span repeats within the owner itself
    (intra-doc repetition is Gopher-gate territory, not dedup).
    Rebuilt text is the space-join of surviving tokens in position
    order, in the tokenizer's alphabet (default: lowercased
    whitespace tokens).

    Scale shape: two linear explodes (spans, tokens — the token
    explode cannot be avoided: the rewrite must address individual
    positions); fingerprint owners come from ONE hash aggregate on
    the 32-byte md5 key; flagged spans merge into islands with
    per-doc windows over the duplicated subset only; the final
    kept-token anti-join is a doc_id-keyed sort-merge join whose
    range predicate (pos BETWEEN island bounds) runs as a join
    residual — islands per doc are few, corpus tokens stream
    through once. Rebuild is one per-doc aggregate; memory per doc
    is the doc itself (same bound as the input text column). No
    pair space, no broadcast of anything corpus-sized.

    Output: (id, n_tokens, kept_tokens, removed_tokens,
    rewritten_text), one row per input document; dup-free docs pass
    through with their full (tokenizer-normalized) text.
    """
    sp = _span_positions(df, id_col, text_col, window, tokenizer)
    flagged = _owner_flagged_spans(sp, id_col, window)
    islands = _flagged_islands(flagged, id_col)
    toks = (
        tokenizer(text_col)
        if tokenizer is not None
        else F.split(F.lower(F.col(text_col)), " ")
    )
    tok = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.posexplode("__toks"))
        .select(F.col(id_col), (F.col("pos") + 1).alias("pos"), F.col("col"))
    )
    kept = tok.join(
        islands,
        on=[
            tok[id_col] == islands[id_col],
            tok["pos"] >= islands["__s"],
            tok["pos"] <= islands["__e"],
        ],
        how="left_anti",
    )
    reb = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "col"))),
                lambda s: s["col"],
            ),
        ).alias("rewritten_text"),
    )
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens")
    )
    return base.join(reb, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0)))
        .cast("long")
        .alias("removed_tokens"),
        F.coalesce("rewritten_text", F.lit("")).alias("rewritten_text"),
    )
