"""Round-10 surface: the curate_corpus_v3 composition (e2e coverage
the r09 advice asked for) and the round-10 operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def test_curation_v3_pipeline_e2e(spark, sf_dir, tmp_path):
    """The RefinedWeb-ordered v3 flow: counts are monotone through
    the seven-stage funnel, the injected URL tier drops exactly the
    ids-ending-in-9 docs, the leakage audit is zero after exact
    dedup, splits are disjoint and exhaustive over the DSIR
    survivors, the written train corpus respects the per-source
    quota, and re-running is deterministic."""
    from etl_python_azure_spark.plans.curation import curate_corpus_v3
    from etl_python_azure_spark.queries.round10 import _v3_url_expr

    m = curate_corpus_v3(
        spark,
        sf_dir,
        str(tmp_path / "out"),
        url_expr=_v3_url_expr(),
        quota_per_source=10,
    )
    assert (
        m["n_input"]
        >= m["n_url"]
        >= m["n_quality"]
        >= m["n_exact"]
        >= m["n_near"]
        >= m["n_span"]
        >= m["n_dsir"]
    )
    # the injected URLs collapse every id ending in 9 onto id-1
    # (both always exist in the contiguous 0..N-1 id space)
    assert m["n_url"] == m["n_input"] - m["n_input"] // 10
    assert m["n_dsir"] > 0
    assert m["n_leaked_fps"] == 0  # exact dedup precedes the split
    assert m["n_train"] + m["n_val"] + m["n_test"] == m["n_dsir"]
    assert m["n_train_capped"] <= m["n_train"]

    out = spark.read.parquet(str(tmp_path / "out" / "train"))
    per_source = out.groupBy("source").count().collect()
    assert all(r["count"] <= 10 for r in per_source)

    spark.catalog.clearCache()
    m2 = curate_corpus_v3(
        spark,
        sf_dir,
        str(tmp_path / "out2"),
        url_expr=_v3_url_expr(),
        quota_per_source=10,
    )
    assert m2 == m


def test_curation_v3_span_stage_drops_covered_doc(spark, tmp_path):
    """A doc whose 8-token spans are at least half covered by a
    lower-id doc is dropped by the span tier even when the fuzzy
    tier misses it (Jaccard below 0.8). Three 23-token docs sharing
    a 'the a of' stopword prefix (so the Gopher gate passes):

    - doc0: prefix + w0..w19 (the coverage source)
    - doc1: prefix + w0..w9 + x0..x9 — shares a 13-token prefix
      with doc0 → 6 of its 16 spans covered (12 < 16: SURVIVES)
    - doc2: prefix + w0..w16 + x0..x2 — shares a 20-token prefix
      → 13 of its 16 spans covered (26 ≥ 16: DROPPED); its
      3-shingle Jaccard vs doc0 is 0.75, under the 0.8 fuzzy
      threshold, so only the span tier catches it.

    Pins both sides of the at-least-half threshold AND the
    fuzzy/span tier division of labor."""
    from etl_python_azure_spark.plans.curation import curate_corpus_v3

    base = [f"w{i}" for i in range(20)]
    novel = [f"x{i}" for i in range(10)]
    doc0 = "the a of " + " ".join(base)
    doc1 = "the a of " + " ".join(base[:10] + novel)
    doc2 = "the a of " + " ".join(base[:17] + novel[:3])
    df = spark.createDataFrame(
        [(0, "s", "en", doc0), (1, "s", "en", doc1), (2, "s", "en", doc2)],
        "doc_id long, source string, lang string, text string",
    )
    src = tmp_path / "mini"
    src.mkdir()
    df.coalesce(1).write.parquet(str(src / "documents.parquet"))

    m = curate_corpus_v3(
        spark, str(src), str(tmp_path / "out"), quota_per_source=10
    )
    assert m["n_quality"] == 3  # stopword prefix clears the gate
    assert m["n_near"] == 3  # fuzzy tier misses the 0.75-Jaccard dup
    assert m["n_span"] == 2  # span tier drops doc2, keeps doc1
    spark.catalog.clearCache()


def test_char_ngrams_short_and_exact(spark):
    from etl_python_azure_spark.operators.text import char_ngrams

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "ab"), (3, "xyz")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.gram)
        for r in char_ngrams(df, "doc_id", "text", n=3).collect()
    }
    # len<n yields nothing; exact-n yields one; len 4 yields two
    assert rows == {(1, "abc"), (1, "bcd"), (3, "xyz")}


def test_language_id_ngram_hand_case(spark):
    """Two labeled languages with disjoint character distributions:
    profiles separate them perfectly; a doc whose grams rank outside
    every profile (profile_size=1) falls back to 'und'."""
    from etl_python_azure_spark.operators.text import language_id_ngram

    df = spark.createDataFrame(
        [
            (1, "aa", "aaaa aaa aaaa"),
            (2, "aa", "aaa aaaa"),
            (3, "bb", "bbbb bbb bbbb"),
            (4, "bb", "bbb bbbb"),
            # labeled aa but pure-b text: the profile vote must cross
            (5, "aa", "bbbb bbb"),
            # grams 'ccc' never reach a size-1 profile (counts lose
            # to the dominant 'aaa'/'bbb' grams) → 'und'
            (6, "aa", "ccc"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r.doc_id: (r.lang_guess, r.is_correct)
        for r in language_id_ngram(
            df, "doc_id", "text", "lang", n=3, profile_size=1
        ).collect()
    }
    assert out[1] == ("aa", 1) and out[2] == ("aa", 1)
    assert out[3] == ("bb", 1) and out[4] == ("bb", 1)
    assert out[5] == ("bb", 0)  # text wins over the (wrong) label
    assert out[6] == ("und", 0)
    spark.catalog.clearCache()


def test_merged_span_coverage_hand_case(spark):
    """Interval-merge math pinned by hand: a 20-token shared run
    inside a 40-token doc covers exactly 20 tokens (13 overlapping
    windows merge into one island), and two disjoint shared runs
    form two islands whose lengths add."""
    from etl_python_azure_spark.operators.dedup import merged_span_coverage

    share1 = [f"s{i}" for i in range(20)]
    share2 = [f"r{i}" for i in range(8)]
    noise = lambda tag, k: [f"{tag}{i}" for i in range(k)]
    # doc0 carries both shared runs (the coverage source)
    doc0 = " ".join(share1 + noise("a", 5) + share2)
    # doc1: share1 embedded mid-doc → one 20-token island
    doc1 = " ".join(noise("b", 10) + share1 + noise("c", 10))
    # doc2: both runs, separated by novel tokens → two islands, 28
    doc2 = " ".join(share2 + noise("d", 6) + share1)
    # doc3: nothing shared
    doc3 = " ".join(noise("e", 12))
    df = spark.createDataFrame(
        [(0, doc0), (1, doc1), (2, doc2), (3, doc3)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.covered_tokens, r.coverage)
        for r in merged_span_coverage(df, "doc_id", "text", window=8).collect()
    }
    # doc1: 40 tokens, shared run at positions 11..30 → windows
    # fully inside it start at 11..23 (13 windows), union = 20 tokens
    assert out[1] == (40, 13, 20, 0.5)
    # doc2: 34 tokens; share2 (8 toks → 1 window, 8 covered) +
    # share1 (20 toks → 13 windows, 20 covered) = 28
    assert out[2] == (34, 14, 28, 28 / 34)
    # doc3: no overlap at all
    assert out[3] == (12, 0, 0, 0.0)
    # doc0 shares everything it contributed: 20 + 8 covered
    assert out[0][2] == 28


def test_quality_keeper_drops_hand_case(spark):
    """Per-pair policy pinned: higher word count survives; ties drop
    the higher id (constant quality == classic keep-first)."""
    from etl_python_azure_spark.operators.dedup import quality_keeper_drops

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    qual = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 10), (5, 7), (6, 7)],
        "doc_id long, q long",
    )
    out = {
        r.doc_id
        for r in quality_keeper_drops(pairs, qual, "doc_id", "q").collect()
    }
    # pair (1,2): 2 is longer → drop 1; (3,4): 3 longer → drop 4;
    # (5,6): tie → drop the higher id 6
    assert out == {1, 4, 6}


def test_curate_corpus_quality_keeper_flips_survivor(spark, tmp_path):
    """The pipeline with keeper='quality' keeps the LONGER member of
    a near-dup pair where min_id keeps the earlier one: doc 1 is doc
    0 plus two extra tokens (Jaccard ~0.9), so min_id keeps 0 and
    quality keeps 1."""
    from etl_python_azure_spark.plans.curation import curate_corpus

    base = "the a of and to in is be " + " ".join(
        f"w{i}" for i in range(40)
    )
    rows = [(0, "s", base), (1, "s", base + " extra tokens")]
    # distinct filler docs so the funnel isn't degenerate
    rows += [
        (k, "s", "the a of " + " ".join(f"u{k}_{i}" for i in range(20)))
        for k in range(2, 8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    src = tmp_path / "mini"
    src.mkdir()
    df.coalesce(1).write.parquet(str(src / "documents.parquet"))

    kept_ids = {}
    for pol in ("min_id", "quality"):
        m = curate_corpus(
            spark,
            str(src),
            str(tmp_path / f"out_{pol}"),
            quota_per_source=100,
            keeper=pol,
        )
        assert m["n_exact"] == 8 and m["n_near"] == 7
        out = spark.read.parquet(str(tmp_path / f"out_{pol}" / "train"))
        kept_ids[pol] = {r.doc_id for r in out.select("doc_id").collect()}
        spark.catalog.clearCache()
    assert 0 in kept_ids["min_id"] and 1 not in kept_ids["min_id"]
    assert 1 in kept_ids["quality"] and 0 not in kept_ids["quality"]


def test_unknown_keeper_raises_before_spark():
    """Both curation chains reject an unknown keeper before touching
    Spark: with no session at all, the only possible failure is the
    keeper check."""
    import pytest

    from etl_python_azure_spark.plans.curation import (
        curate_corpus,
        curate_corpus_v3_frames,
    )

    with pytest.raises(ValueError, match="unknown keeper policy"):
        curate_corpus(None, "unused", "unused", keeper="bogus")
    with pytest.raises(ValueError, match="unknown keeper policy"):
        curate_corpus_v3_frames(None, "unused", keeper="bogus")


def test_gopher_repetition_fractions_hand_case(spark):
    """Run-length fold math pinned by hand against the published
    definitions (char mass excludes separators)."""
    from etl_python_azure_spark.operators.text import (
        gopher_repetition_fractions,
    )

    df = spark.createDataFrame(
        [
            # bigrams: 'x x'x2, 'x y', 'y z' → top2 = 4/8; its single
            # (unique) 5-gram contributes dup5 = 0
            (1, "x x x y z"),
            # period-5 repetition: every one of the 11 5-grams recurs
            # → dup5 = 1 exactly
            (2, "a b c d e a b c d e a b c d e"),
            # too short for any n — all fractions 0
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in gopher_repetition_fractions(df, "doc_id", "text").collect()
    }
    assert out[1]["top2_char_frac"] == 0.5
    assert out[1]["dup5_char_frac"] == 0.0
    assert out[2]["dup5_char_frac"] == 1.0
    assert out[3]["top2_char_frac"] == 0.0
    assert out[3]["dup7_char_frac"] == 0.0
    assert out[2]["n_words"] == 15


def test_hard_negative_topk_excludes_same_label(spark):
    from etl_python_azure_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),  # nearest to 0 but SAME label
        (2, [0.9, 0.44], 1),   # nearest cross-label → the hard negative
        (3, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negative_topk(
        df, df.filter("vec_id = 0"), vec_col="embedding", k=2
    ).collect()
    got = [(r.neighbor_id, r.rank) for r in out]
    assert got == [(2, 1), (3, 2)]
    assert all(r.neighbor_label != r.query_label for r in out)


def test_epoch_shuffle_permutations(spark):
    from etl_python_azure_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame(
        [(i,) for i in range(50)], "doc_id long"
    )
    out = epoch_shuffle(df, "doc_id", epochs=2).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.pos
    # each epoch is a complete 1..50 permutation
    assert sorted(by_epoch[0].values()) == list(range(1, 51))
    assert sorted(by_epoch[1].values()) == list(range(1, 51))
    # epochs are decorrelated (different seed → different order)
    assert by_epoch[0] != by_epoch[1]
    # deterministic re-run
    again = {
        (r.epoch, r.doc_id): r.pos
        for r in epoch_shuffle(df, "doc_id", epochs=2).collect()
    }
    assert again == {
        (e, d): p for e, m in by_epoch.items() for d, p in m.items()
    }


def test_perplexity_buckets_head_is_predictable(spark):
    from etl_python_azure_spark.operators.text import perplexity_buckets

    rows = [
        # doc 1: all corpus-frequent tokens → highest avg logprob
        (1, "en", "aa aa aa aa"),
        (2, "en", "aa aa bb cc"),
        (3, "en", "dd ee ff gg"),  # all-rare → tail
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.doc_id: (r.bucket, r.bucket_label)
        for r in perplexity_buckets(df, "doc_id", "text", "lang").collect()
    }
    assert out[1] == (1, "head")
    assert out[2] == (2, "middle")
    assert out[3] == (3, "tail")


def test_hard_negative_ivf_probe_all_equals_exact(spark, sf_dir):
    """nprobe == num_centroids probes every cell, so the IVF tier
    must reproduce the exact broadcast tier bit-for-bit — the same
    recovery invariant ann_ivf_recall leans on, with the label gate
    in play."""
    from etl_python_azure_spark.operators.similarity import (
        hard_negative_ivf_topk,
        hard_negative_topk,
    )
    from etl_python_azure_spark.session import load_tables

    em = load_tables(spark, sf_dir, "embeddings")
    q = em.filter("vec_id < 5")
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in hard_negative_topk(em, q, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in hard_negative_ivf_topk(
            em, q, k=3, num_centroids=16, nprobe=16
        ).collect()
    }
    assert ivf == exact


def test_span_contamination_hand_case(spark):
    """A corpus doc embedding a 12-token benchmark run reports
    exactly 12 covered tokens; clean docs report 0; the benchmark
    doc itself doesn't self-flag (same-id exclusion) but IS flagged
    by a twin benchmark doc sharing the run."""
    from etl_python_azure_spark.operators.dedup import span_contamination

    bench_run = [f"b{i}" for i in range(12)]
    noise = lambda tag, k: [f"{tag}{i}" for i in range(k)]
    rows = [
        (0, " ".join(bench_run)),                       # benchmark
        (50, " ".join(bench_run + noise("z", 4))),      # benchmark twin
        (1, " ".join(noise("a", 5) + bench_run + noise("c", 5))),
        (2, " ".join(noise("d", 15))),                  # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter("doc_id % 50 = 0")
    out = {
        r.doc_id: (r.covered_tokens, r.is_contaminated)
        for r in span_contamination(df, ref, "doc_id", "text", window=8)
        .collect()
    }
    assert out[1] == (12, 1)  # merged union of 5 windows = 12 tokens
    assert out[2] == (0, 0)
    # doc 0's spans appear in doc 50 (different id) → flagged
    assert out[0] == (12, 1)
    assert out[50][1] == 1


def _gopher_repetition_fractions_fold(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7),
) -> DataFrame:
    """The pure-Column sort+fold reference form of
    ``gopher_repetition_fractions`` — the equivalence oracle for its
    Arrow kernel."""

    def _charlen(gram: Column, n: int) -> Column:
        # chars excluding the n-1 separator spaces
        return F.length(gram) - F.lit(n - 1)

    def rep_stats(arr: Column, n: int) -> Column:
        """(total_chars, dup_chars, top_chars) over a sorted n-gram
        array in one fold: dup counts the full run once its second
        member appears; top tracks max(run_len · charlen)."""
        init = F.struct(
            F.lit(0).cast("long").alias("total"),
            F.lit(0).cast("long").alias("dup"),
            F.lit(0).cast("long").alias("top"),
            F.lit(0).cast("long").alias("run"),
            F.lit(None).cast("string").alias("prev"),
        )

        def step(acc: Column, x: Column) -> Column:
            same = x == acc.prev  # null prev → first element branch
            run = F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long"))
            ch = _charlen(x, n).cast("long")
            dup_add = F.when(
                same & (run == 2), ch * 2  # run confirmed: count both
            ).otherwise(F.when(same, ch).otherwise(F.lit(0).cast("long")))
            return F.struct(
                (acc.total + ch).alias("total"),
                (acc.dup + dup_add).alias("dup"),
                F.greatest(acc.top, run * ch).alias("top"),
                run.alias("run"),
                x.alias("prev"),
            )

        return F.aggregate(arr, init, step)

    toks = F.split(F.lower(F.col(text_col)), " ")

    def ngram_arr(n: int) -> Column:
        return F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN "
            f"array_sort(transform(sequence(1, size(__toks) - {n - 1}), "
            f"i -> concat_ws(' ', slice(__toks, i, {n})))) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )

    ns = sorted(set(top_ns) | set(dup_ns))
    staged = df.select(
        F.col(id_col),
        F.size(toks).alias("n_words"),
        toks.alias("__toks"),
    ).select(
        F.col(id_col),
        "n_words",
        *[rep_stats(ngram_arr(n), n).alias(f"__s{n}") for n in ns],
    )

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    return staged.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        *[
            frac(F.col(f"__s{n}.top"), F.col(f"__s{n}.total")).alias(
                f"top{n}_char_frac"
            )
            for n in top_ns
        ],
        *[
            frac(F.col(f"__s{n}.dup"), F.col(f"__s{n}.total")).alias(
                f"dup{n}_char_frac"
            )
            for n in dup_ns
        ],
    )


def test_gopher_repetition_kernel_matches_fold(spark):
    """r14: the Arrow kernel must be BIT-identical to the pure-Column
    sort+fold reference on real data (string-compare the doubles)."""
    from pyspark.sql import functions as F

    from etl_python_azure_spark.operators.text import (
        gopher_repetition_fractions,
    )
    from etl_python_azure_spark.session import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", "documents")
    def canon(df):
        return sorted(
            tuple(str(v) for v in r)
            for r in df.select(
                *[F.col(c).cast("string") for c in sorted(df.columns)]
            ).collect()
        )
    got = canon(gopher_repetition_fractions(d, "doc_id", "text"))
    want = canon(_gopher_repetition_fractions_fold(d, "doc_id", "text"))
    assert got == want and len(got) > 0
