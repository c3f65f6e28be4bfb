"""Corpus-prep operator semantics pinned on constructed fixtures (the
DuckDB oracles check them end-to-end on the documents table; these tests
pin the edge cases oracles share with the Spark side)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cocktailsdb_spark.operators import corpus


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, " ".join(f"t{i}" for i in range(100)), "en", "s"),   # 100 tokens
        (1, "a b c", "de", "s"),                                  # < chunk size
        (25, " ".join(f"t{i}" for i in range(10)), "en", "s"),    # bench doc
        (26, " ".join(f"t{i}" for i in range(10)), "fr", "s"),    # contaminated
        (27, "x y z w q r s u v w2", "zh", "s"),                  # clean
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_chunking_covers_all_tokens_with_overlap(tiny_docs):
    chunks = {
        (r["doc_id"], r["chunk_id"]): r
        for r in corpus.chunk_documents(tiny_docs, size=64, stride=48).collect()
    }
    # 100 tokens, stride 48 → starts at 0/48/96 → 3 chunks of 64/52/4
    assert [chunks[(0, i)]["n_tokens"] for i in range(3)] == [64, 52, 4]
    assert chunks[(0, 1)]["chunk_text"].split(" ")[0] == "t48"  # overlap
    # short doc → exactly one whole-doc chunk
    assert chunks[(1, 0)]["n_tokens"] == 3 and chunks[(1, 0)]["chunk_text"] == "a b c"
    assert (1, 1) not in chunks


def test_packing_offsets_are_exclusive_prefix_sums(tiny_docs):
    out = {r["doc_id"]: r for r in corpus.pack_sequences(tiny_docs, budget=50).collect()}
    assert out[0]["start_offset"] == 0 and out[0]["bin_id"] == 0
    assert out[1]["start_offset"] == 100 and out[1]["bin_id"] == 2
    assert out[25]["start_offset"] == 103 and out[25]["offset_in_bin"] == 3
    assert out[26]["start_offset"] == 113
    assert out[27]["start_offset"] == 123


def test_sharded_packing_equals_per_shard_global_packing(tiny_docs):
    """The sharded form IS pack_sequences run independently per shard:
    filtering the corpus to one shard and packing globally must reproduce
    that shard's rows exactly (offsets, bins, all of it)."""
    n_shards = 4
    sharded = {
        r["doc_id"]: r
        for r in corpus.pack_sequences_sharded(
            tiny_docs, budget=50, n_shards=n_shards
        ).collect()
    }
    assert len(sharded) == 5
    for shard in {d % n_shards for d in sharded}:
        solo = {
            r["doc_id"]: r
            for r in corpus.pack_sequences(
                tiny_docs.filter(F.col("doc_id") % n_shards == shard), budget=50
            ).collect()
        }
        for doc_id, row in solo.items():
            got = sharded[doc_id]
            assert got["shard_id"] == shard
            assert (
                got["start_offset"],
                got["bin_id"],
                got["offset_in_bin"],
                got["n_tokens"],
            ) == (
                row["start_offset"],
                row["bin_id"],
                row["offset_in_bin"],
                row["n_tokens"],
            ), doc_id


def test_sharded_packing_window_is_partitioned(tiny_docs):
    """Scale posture: the window must hash-partition on shard_id, never
    collapse to a single partition (the exact plan smell the global form
    has by construction)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.plan_audit import fmt_plan

    plan = fmt_plan(corpus.pack_sequences_sharded(tiny_docs))
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


def test_stratified_sample_deterministic_and_rate_ordered(spark):
    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("w").alias("text"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
        F.lit("s").alias("source"),
    )
    a = {r["doc_id"] for r in corpus.stratified_sample(docs).collect()}
    b = {r["doc_id"] for r in corpus.stratified_sample(docs).collect()}
    assert a == b  # hash sampling: identical across runs
    n_en = sum(1 for d in a if d % 2 == 0)
    n_zh = sum(1 for d in a if d % 2 == 1)
    assert n_en == 1000  # rate 1.0 keeps everything
    assert 150 <= n_zh <= 350  # rate 0.25 of 1000, hash-uniform


def test_decontamination_flags_shared_ngrams_only(tiny_docs):
    out = {r["doc_id"]: r["n_bench_hits"] for r in corpus.decontaminate(tiny_docs).collect()}
    # benchmark set = doc_id % 25 == 0 → docs 0 and 25. Train doc 26
    # duplicates 25's text AND shares its 8-grams with 0 (t0..t9 is a
    # prefix of 0's t0..t99 — substring contamination) → 2 distinct bench
    # hits. 1 (too short for an 8-gram) and 27 (disjoint tokens) are clean.
    assert out == {26: 2}


def test_weighted_resample_copy_counts(spark):
    docs = spark.range(1000).selectExpr(
        "id AS doc_id", "'w' AS text",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'zh' END AS lang", "'s' AS source"
    )
    out = corpus.weighted_resample(docs).collect()
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = max(per_doc.get(r["doc_id"], 0), r["copy_no"])
    en = [n for d, n in per_doc.items() if d % 2 == 0]
    zh = [n for d, n in per_doc.items() if d % 2 == 1]
    assert set(en) == {1}  # weight 1.0 → exactly one copy each
    assert set(zh) == {3}  # weight 3.0 (integral) → exactly three copies
    assert len(en) == 500 and len(zh) == 500
    # determinism: identical on rerun
    again = corpus.weighted_resample(docs).collect()
    assert sorted((r["doc_id"], r["copy_no"]) for r in out) == sorted(
        (r["doc_id"], r["copy_no"]) for r in again
    )


def test_weighted_resample_fractional_expected_rate(spark):
    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "'w' AS text", "'fr' AS lang", "'s' AS source"  # weight 2.5
    )
    out = corpus.weighted_resample(docs).collect()
    copies = {}
    for r in out:
        copies[r["doc_id"]] = max(copies.get(r["doc_id"], 0), r["copy_no"])
    assert set(copies.values()) <= {2, 3}
    n3 = sum(1 for v in copies.values() if v == 3)
    assert 800 <= n3 <= 1200  # ~50% get the extra copy, hash-uniform


def test_mixture_weights_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s"),   # 4 tokens
            (2, "a b", "en", "s"),       # 2 tokens
            (3, "x y z w", "zh", "s"),   # 4 tokens
            (4, "k", "ko", "s"),         # 1 token, lang absent from targets
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.lang: r for r in corpus.mixture_weights(docs).collect()}
    assert out["en"].n_docs == 2 and out["en"].n_tokens == 6
    assert out["zh"].n_tokens == 4 and out["ko"].n_tokens == 1
    # total = 11 tokens; share = n/11 rounded 6dp
    assert out["en"].share == round(6 / 11, 6) or abs(out["en"].share - 6 / 11) < 1e-6
    # weight moves the corpus to the target: target_share * total / n_tokens
    assert out["en"].target_share == 0.40
    assert abs(out["en"].weight - 0.40 * 11 / 6) < 1e-4
    assert abs(out["zh"].weight - 0.15 * 11 / 4) < 1e-4
    # lang missing from the target mixture → excluded (weight 0)
    assert out["ko"].target_share == 0.0 and out["ko"].weight == 0.0


def test_mixture_weights_compose_with_resample(spark):
    # the measured weight, fed to weighted_resample, actually yields the
    # target mixture in expectation: integral-weight case checked exactly
    docs = spark.createDataFrame(
        [(i, "t t t t", "en" if i < 30 else "zh", "s") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    w = {
        r.lang: r.weight
        for r in corpus.mixture_weights(
            docs, targets={"en": 0.5, "zh": 0.5}
        ).collect()
    }
    # en: 120 of 160 tokens → weight 0.5*160/120 = 2/3; zh: 0.5*160/40 = 2.0
    assert abs(w["en"] - 2 / 3) < 1e-4 and w["zh"] == 2.0
    out = corpus.weighted_resample(docs, weights=w).collect()
    zh_copies = [r.copy_no for r in out if r.doc_id >= 30]
    assert max(zh_copies) == 2 and len(zh_copies) == 20  # every zh doc ×2


def test_bigram_counts_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s"), (2, "a b c", "en", "s"), (3, "x", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = [(r.bigram, r.n) for r in corpus.bigram_counts(docs).collect()]
    # doc1: (a b), (b a), (a b); doc2: (a b), (b c); doc3: too short
    assert out == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_bigram_counts_top_n_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "z q z q k j", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = [(r.bigram, r.n) for r in corpus.bigram_counts(docs, top_n=3).collect()]
    # counts: "z q"×2, then "j"? no — pairs: z q, q z, z q, q k, k j
    assert out == [("z q", 2), ("k j", 1), ("q k", 1)]  # lexical tiebreak at n=1


def test_unigram_logprob_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a a b", "en", "s"), (2, "a c", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.doc_id: r for r in corpus.unigram_logprob_score(docs).collect()}
    # counts: a=3, b=1, c=1; total=5, vocab=3, smooth=0.5 → denom 6.5
    def p(c):
        return (c + 0.5) / 6.5

    def q(c):
        return math.floor(math.log(p(c)) * 1e6 + 0.5)

    exp1 = math.floor(((q(3) + q(3) + q(1)) / 1e6 / 3) * 1e4 + 0.5) / 1e4
    exp2 = math.floor(((q(3) + q(1)) / 1e6 / 2) * 1e4 + 0.5) / 1e4
    assert out[1].n_tokens == 3 and out[1].mean_logprob == exp1
    assert out[2].n_tokens == 2 and out[2].mean_logprob == exp2
    # the doc with rarer tokens scores lower (perplexity-proxy ordering)
    assert out[2].mean_logprob < out[1].mean_logprob


def _bpe_reference(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python greedy BPE trainer — the spec the Spark operator (and
    its DuckDB twin) must reproduce: count adjacent pairs over the
    freq-weighted vocab, take (count desc, pair lexicographic) argmax,
    merge left-to-right single-pass, repeat."""
    vocab = {w: [c for c in w] for w in word_freqs}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((rank, a, b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_merges_match_reference_on_constructed_corpus(spark):
    docs = spark.createDataFrame(
        [
            (0, "low low low lower lowest"),
            (1, "new newer newest low"),
            (2, "wider wide new new"),
        ],
        "doc_id long, text string",
    )
    freqs: dict[str, int] = {}
    for t in ("low low low lower lowest", "new newer newest low", "wider wide new new"):
        for w in t.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    expected = _bpe_reference(freqs, 4)
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in corpus.bpe_merges(docs, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expected


def test_bpe_merges_fixture_deterministic(spark, sf_dir):
    from cocktailsdb_spark.tables import load

    out1 = corpus.bpe_merges(load(spark, sf_dir, "documents")).collect()
    out2 = corpus.bpe_merges(load(spark, sf_dir, "documents")).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert len(out1) == corpus.BPE_MERGES
    for r in out1:
        assert r["pair_count"] > 0 and len(r["lhs"]) >= 1 and len(r["rhs"]) >= 1


def test_bpe_encode_fertility_bounds(spark, sf_dir):
    """Subword counts sit between word count (everything merged) and char
    count (nothing merged), and match the reference encoding lengths."""
    from cocktailsdb_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    out = corpus.bpe_encode(docs).collect()
    assert out
    for r in out:
        assert r["n_words"] <= r["n_subwords"]
        assert r["subword_ratio"] >= 1.0
    # cross-check one constructed corpus against the pure-Python reference
    tiny = spark.createDataFrame(
        [(0, "low low lower"), (1, "newest newer low")],
        "doc_id long, text string",
    )
    freqs = {"low": 3, "lower": 1, "newest": 1, "newer": 1}
    vocab = {w: [c for c in w] for w in freqs}
    for _, a, b, _c in _bpe_reference(freqs, corpus.BPE_MERGES):
        for w, syms in vocab.items():
            out2, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out2.append(a + b); i += 2
                else:
                    out2.append(syms[i]); i += 1
            vocab[w] = out2
    expected = {
        0: sum(len(vocab[w]) for w in ["low", "low", "lower"]),
        1: sum(len(vocab[w]) for w in ["newest", "newer", "low"]),
    }
    got = {r["doc_id"]: r["n_subwords"] for r in corpus.bpe_encode(tiny).collect()}
    assert got == expected


def test_uniform_sample_exact_size_and_deterministic(spark, sf_dir):
    from cocktailsdb_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    a = corpus.uniform_sample_n(docs, n=50).collect()
    b = corpus.uniform_sample_n(docs, n=50).collect()
    assert len(a) == 50
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the sample is the lowest-hash prefix: max kept key < min dropped key
    kept = {r["doc_id"] for r in a}
    all_keys = {
        r["doc_id"]: r["sample_key"]
        for r in corpus.uniform_sample_n(docs, n=10**9).collect()
    }
    max_kept = max(all_keys[d] for d in kept)
    dropped = [k for d, k in all_keys.items() if d not in kept]
    assert not dropped or max_kept <= min(dropped)


def test_uniform_sample_plan_falls_back_to_sort_above_topk_threshold(spark, sf_dir):
    """TakeOrderedAndProject sizes a per-task buffer to its limit, so a
    limit of 10**9 killed the JVM. At and above the session's fallback
    threshold the top-k plans as a range-partitioned Sort under
    CollectLimit; below it the bounded top-k plan stays."""
    from cocktailsdb_spark.session import TOPK_SORT_FALLBACK
    from cocktailsdb_spark.tables import load

    docs = load(spark, sf_dir, "documents")

    def plan(n: int) -> str:
        return corpus.uniform_sample_n(docs, n=n)._jdf.queryExecution().executedPlan().toString()

    for n in (50, TOPK_SORT_FALLBACK - 1):
        assert f"TakeOrderedAndProject(limit={n}," in plan(n)
    for n in (TOPK_SORT_FALLBACK, 10**9):
        p = plan(n)
        assert "TakeOrderedAndProject" not in p
        assert f"CollectLimit {n}\n" in p and "Sort [sample_key" in p


def test_heavy_hitters_matches_unbounded_topk(spark, sf_dir):
    from cocktailsdb_spark.operators.corpus import HH_CAPACITY, heavy_hitters
    from cocktailsdb_spark.operators.text import tokens
    from cocktailsdb_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    got = heavy_hitters(docs, k=25).collect()
    toks = docs.select(F.explode(tokens()).alias("term"))
    want = (
        toks.groupBy("term").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term")).limit(25).collect()
    )
    assert [(r.term, r.n) for r in got] == [(r.term, r.n) for r in want]
    # the exactness precondition the docstring claims: kth count > N/capacity
    n_total = toks.count()
    assert got[-1].n > n_total / HH_CAPACITY


def test_mg_candidates_survive_capacity_pressure(spark):
    # 1 partition, capacity-sized flood of singletons + one heavy term:
    # the heavy term must survive the MG decrements
    import pandas as pd
    from cocktailsdb_spark.operators.corpus import HH_CAPACITY, _mg_candidates

    flood = [f"u{i}" for i in range(10 * HH_CAPACITY)]
    text = " ".join(flood + ["hot"] * (len(flood) // 10))
    [out] = list(_mg_candidates(iter([pd.DataFrame({"text": [text]})])))
    assert "hot" in set(out["term"])
    assert len(out) <= HH_CAPACITY


def test_ccnet_buckets_positional_tertiles(spark):
    # 6 docs, one lang: common-word docs score high (head), rare-word docs
    # low (tail); with n=6 each tertile holds exactly 2 docs and the score
    # ranges must be ordered tail <= middle <= head
    rows = [
        (1, "the the the the", "en"),
        (2, "the the the cat", "en"),
        (3, "the the cat cat", "en"),
        (4, "the cat dog bird", "en"),
        (5, "zebra quark vex jolt", "en"),
        (6, "axolotl nymph glyph quux", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.bucket: r for r in corpus.ccnet_quality_buckets(docs).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert all(r.n_docs == 2 for r in out.values())
    assert out["tail"].max_score <= out["middle"].min_score
    assert out["middle"].max_score <= out["head"].min_score


def test_ccnet_buckets_remainder_goes_to_head(spark):
    # n=4: tail gets floor(4/3)=1, middle 1, head the remaining 2
    rows = [(i, t, "en") for i, t in enumerate(
        ["a a a a", "a a a b", "a b c d", "w x y z"]
    )]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.bucket: r.n_docs for r in corpus.ccnet_quality_buckets(docs).collect()}
    assert out == {"tail": 1, "middle": 1, "head": 2}


def test_pmi_collocations_hand_computed(spark):
    import math

    # "x y" always adjacent (5 times); "the" is everywhere -> "the the"
    # pairs score low; pair "x y": n_pair=5, n_x=5, n_y=5
    rows = [(i, "the the x y the", "en") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = corpus.pmi_collocations(docs, min_count=2, top_n=10).collect()
    by_pair = {(r.term_a, r.term_b): r for r in out}
    n_uni, n_docs = 25.0, 5.0
    nb = n_uni - n_docs  # 20 adjacent pairs
    exp = math.log((5.0 * n_uni * n_uni) / (nb * 5.0 * 5.0))
    want = math.floor(exp * 1e6 + 0.5) / 1e6
    got = by_pair[("x", "y")]
    assert got.n_pair == 5 and abs(got.pmi - want) < 1e-9
    # the top row must be the strongest collocation
    assert (out[0].term_a, out[0].term_b) == ("x", "y")


def test_pmi_null_text_does_not_shift_scores(spark):
    """A NULL-text doc contributes zero tokens, so it must not move the
    adjacent-pair denominator (round-5 advisor finding: n_uni - n_docs
    undercounted by one per NULL doc, shifting every PMI by a constant)."""
    rows = [(i, "the the x y the", "en") for i in range(5)]
    base = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with_null = base.unionByName(
        spark.createDataFrame(
            [(99, None, "en")], "doc_id long, text string, lang string"
        )
    )
    a = {(r.term_a, r.term_b): r.pmi
         for r in corpus.pmi_collocations(base, min_count=2, top_n=10).collect()}
    b = {(r.term_a, r.term_b): r.pmi
         for r in corpus.pmi_collocations(with_null, min_count=2, top_n=10).collect()}
    assert a == b


def test_weighted_sample_key_null_for_zero_weight(spark):
    """ln(u)/w must never evaluate for w=0 rows (guarded when-expression),
    so the plan stays well-defined if the filter ever moves after the
    projection (round-5 advisor finding)."""
    rows = [(i, "t", "a" if i % 2 else "z", "s") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.weighted_sample_topn(docs, weights={"a": 1.0}, n=50).collect()
    assert all(r.w > 0 and r.es_key is not None for r in out)
    import math
    assert all(not math.isinf(r.es_key) and not math.isnan(r.es_key) for r in out)


def test_source_cap_matches_naive_window(spark):
    from cocktailsdb_spark.operators.text import md5_prefix_value

    rows = [(i, "t", "en", f"src{i % 3}") for i in range(100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        (r.doc_id, r.rank_in_source)
        for r in corpus.source_cap(docs, cap=7).collect()
    }
    # naive single-window reference
    u = md5_prefix_value(F.col("doc_id").cast("string"), 8)
    w = Window.partitionBy("source").orderBy(u, "doc_id")
    ref = {
        (r.doc_id, r.rn)
        for r in docs.select(
            "doc_id", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 7).collect()
    }
    assert got == ref and len(got) == 21


def test_corpus_drift_zero_when_identical(spark):
    # same distribution in baseline and incoming -> every contribution ~0
    rows = [(i, "a b c d", "en", "src0" if i % 2 else "srcX") for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.corpus_drift_kl(docs).collect()
    total = [r for r in out if r.term == "<TOTAL>"][0]
    assert abs(total.kl_contrib) < 1e-6


def test_corpus_drift_flags_shifted_term(spark):
    # "zzz" appears only in the incoming corpus -> top positive contributor
    rows = [(i, "a b", "en", "src0") for i in range(20)] + [
        (100 + i, "a zzz", "en", "srcX") for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.corpus_drift_kl(docs).collect()
    top_term = out[0]
    assert top_term.term == "zzz" and top_term.kl_contrib > 0


def test_weighted_sample_prefers_heavy_weights(spark):
    rows = [(i, "t", "hi" if i % 2 == 0 else "lo", "s") for i in range(1000)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.weighted_sample_topn(
        docs, weights={"hi": 5.0, "lo": 0.5}, n=200
    ).collect()
    n_hi = sum(1 for r in out if r.lang == "hi")
    assert len(out) == 200
    # w=5 vs w=0.5: the heavy class must dominate decisively (E[hi] ≈ 190)
    assert n_hi > 150
    # deterministic: same call returns the identical sample
    again = corpus.weighted_sample_topn(docs, weights={"hi": 5.0, "lo": 0.5}, n=200).collect()
    assert [r.doc_id for r in out] == [r.doc_id for r in again]


def test_weighted_sample_zero_weight_excluded(spark):
    rows = [(i, "t", "a" if i < 10 else "z", "s") for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.weighted_sample_topn(docs, weights={"a": 1.0}, n=50).collect()
    assert all(r.lang == "a" for r in out) and len(out) == 10


def test_dsir_ranks_targetlike_docs_first(spark):
    """Docs sharing the target slice's distinctive bigrams must out-score
    docs made of raw-only bigrams; scores are deterministic across runs."""
    rows = (
        # target slice (en): distinctive bigram "alpha beta"
        [(i, "alpha beta alpha beta alpha beta", "en", "s") for i in range(5)]
        # raw-only slice: bigram "gamma delta"
        + [(10 + i, "gamma delta gamma delta gamma delta", "de", "s") for i in range(5)]
        # the probe docs: one looks like target, one like raw
        + [(100, "alpha beta alpha beta", "fr", "s"), (101, "gamma delta gamma delta", "fr", "s")]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = corpus.dsir_importance(docs, top_n=20).collect()
    score = {r.doc_id: r.dsir_logratio for r in out}
    assert score[100] > score[101], score
    # target-like probe ranks with the en docs, raw-like sinks to the bottom
    order = [r.doc_id for r in out]
    assert order.index(100) < order.index(101)
    again = corpus.dsir_importance(docs, top_n=20).collect()
    assert [(r.doc_id, r.dsir_logratio) for r in again] == [
        (r.doc_id, r.dsir_logratio) for r in out
    ]


def _logreg_reference(rows, lr=0.5, iters=5):
    """Pure-Python mirror of logreg_quality_train's arithmetic: same
    feature defs, per-row 1e-6 gradient quantization, same update op
    order and weight re-quantization."""
    import math

    feats = []
    for lang, text, n_chars in rows:
        toks = text.split(" ")
        feats.append(
            (
                1 if lang == "en" else 0,
                1.0,
                len(toks) / 100.0,
                n_chars / 1000.0,
                float(len(set(toks))) / float(len(toks)),
            )
        )
    w = [0.0] * 4
    n = len(feats)
    for _ in range(iters):
        q = [0, 0, 0, 0]
        for y, *f in feats:
            z = sum(w[j] * f[j] for j in range(4))
            p = 1.0 / (1.0 + math.exp(-z))
            for j in range(4):
                q[j] += math.floor(((p - y) * f[j]) * 1000000.0 + 0.5)
        w = [
            math.floor(
                (w[j] - lr * ((q[j] / 1000000.0) / n)) * 1000000.0 + 0.5
            )
            / 1000000.0
            for j in range(4)
        ]
    n_correct = 0
    for y, *f in feats:
        z = sum(w[j] * f[j] for j in range(4))
        n_correct += int((1 if z >= 0 else 0) == y)
    return w, n_correct


def test_logreg_matches_python_reference(spark):
    rows = [
        ("en", "data query window data", 120),
        ("en", "scan filter join merge sort batch", 300),
        ("de", "row row row row", 80),
        ("fr", "vector stream key value table", 220),
        ("zh", "big small fast slow", 150),
    ]
    d = spark.createDataFrame(
        [(i, t, l, "src0", c) for i, (l, t, c) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.feature: r for r in corpus.logreg_quality_train(d).collect()}
    w_ref, n_correct = _logreg_reference(rows)
    assert [
        out[n].weight for n in corpus.LOGREG_FEATURES
    ] == w_ref
    assert out["bias"].n_docs == 5 and out["bias"].n_pos == 2
    assert out["bias"].n_correct == n_correct


def test_logreg_learns_separable_labels(spark):
    # y perfectly separable on token count: long docs are 'en'
    rows = []
    for i in range(40):
        n = 40 if i % 2 == 0 else 4
        rows.append((i, " ".join(f"t{k}" for k in range(n)),
                     "en" if n == 40 else "de", "src0", n * 3))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.feature: r for r in corpus.logreg_quality_train(d).collect()}
    # token-count weight moved positive and the model beats the base rate
    assert out["f_tokens"].weight > 0
    assert out["bias"].n_correct == 40


# --- decision_stump_train ----------------------------------------------------


def test_decision_stump_finds_separating_threshold(spark):
    from cocktailsdb_spark.operators.corpus import decision_stump_train

    # en docs are long (>= 400 chars), others short: a perfect split on
    # f2 = n_chars/1000 exists; the stump must find it with gini 0 and
    # training accuracy 1. Token counts/TTR are constant-ish noise.
    rows = []
    for i in range(6):
        rows.append((i, "a b c d", "en", 500 + i))
    for i in range(6, 12):
        rows.append((i, "a b c d", "de", 100 + i))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")
    out = decision_stump_train(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r.feature == "f2"
    assert 0.1 <= r.threshold < 0.5
    assert r.gini_weighted == 0.0 and r.train_accuracy == 1.0
    assert r.n_left == 6 and r.n_right == 6
    assert r.pos_left == 0 and r.pos_right == 6


def test_decision_stump_right_side_nonempty(spark):
    from cocktailsdb_spark.operators.corpus import decision_stump_train

    # constant features: every (feature, bin) candidate has nl == nt (an
    # empty right side), so no split survives and the result is empty —
    # the caller's signal that the features carry no information.
    rows = [(i, "x y", "en" if i % 2 else "de", 100) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")
    assert decision_stump_train(docs).collect() == []


def test_stump_cv_perfectly_separable_all_folds(spark):
    from cocktailsdb_spark.operators.corpus import stump_cross_validation

    # perfectly separable on n_chars in every fold -> every held-out
    # fold scores accuracy 1.0, and so does the pooled row.
    rows = []
    for i in range(40):
        en = i % 2 == 0
        rows.append((i, "a b c", "en" if en else "de", 600 if en else 100))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")
    out = stump_cross_validation(docs).collect()
    pooled = [r for r in out if r.fold == -1]
    assert len(pooled) == 1 and pooled[0].test_accuracy == 1.0
    per = [r for r in out if r.fold >= 0]
    assert len(per) == len({r.fold for r in per})  # one row per fold
    total = sum(r.test_n for r in per)
    assert total == 40
    for r in per:
        assert r.feature == "f2" and r.test_accuracy == 1.0


def test_keyword_tagging_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "join the hash join now", "en", 20),
            (2, "stream window stream", "en", 19),
            (3, "nothing matches here", "de", 20),
        ],
        "doc_id long, text string, lang string, n_chars int",
    )
    from cocktailsdb_spark.operators import corpus

    out = {r.category: r for r in corpus.keyword_tagging(docs).collect()}
    assert out["exec"].n_docs_tagged == 1 and out["exec"].n_hits == 3
    assert out["streaming"].n_docs_tagged == 1 and out["streaming"].n_hits == 3
    assert "storage" not in out  # no hits -> no row
    assert abs(out["exec"].doc_share - 1 / 3) < 1e-6


def test_bigram_cross_entropy_hand_computed(spark):
    """One doc 'a b a b': unigrams a:2 b:2 (V=2); bigrams (a,b):2,
    (b,a):1. Occurrence probs: (a,b) -> 3/4 twice, (b,a) -> 2/4 once;
    xent = mean of 1e-6-quantized -ln p."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", 7)],
        "doc_id long, text string, lang string, n_chars int",
    )
    from cocktailsdb_spark.operators import corpus

    out = corpus.bigram_cross_entropy(docs).collect()[0]
    assert out.lang == "en" and out.n_bigrams == 3
    q = lambda p: math.floor(-math.log(p) * 1e6 + 0.5)  # noqa: E731
    expect = (2 * q(0.75) + q(0.5)) / 1e6 / 3
    expect = math.floor(expect * 1e4 + 0.5) / 1e4
    assert out.cross_entropy_nats == expect


def test_negative_sampling_pairs_structure(spark):
    """Doc 'a b c' with window 2: forward pairs (a,b),(a,c),(b,c) ->
    6 symmetric positives; each gets k=2 hash-deterministic negatives
    drawn from the corpus vocab."""
    from cocktailsdb_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a b c", "en", 5), (9, "d e f g", "en", 7)],
        "doc_id long, text string, lang string, n_chars int",
    )
    out = corpus.negative_sampling_pairs(docs, panel=(1,)).collect()
    pos = [r for r in out if r.label == "pos"]
    negs = [r for r in out if r.label.startswith("neg")]
    assert len(pos) == 6
    assert len(negs) == 12  # 2 negatives per symmetric positive
    assert {(r.center, r.partner) for r in pos} == {
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "a"), ("c", "a"), ("c", "b")
    }
    vocab = {"a", "b", "c", "d", "e", "f", "g"}
    assert all(r.partner in vocab for r in negs)
    # determinism: same input -> identical negative draws
    again = corpus.negative_sampling_pairs(docs, panel=(1,)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_bigram_cross_entropy_aggregates_before_join(spark):
    """r14: the score join runs over the materialized (lang, w1, w2)
    count frame and the materialized unigram counts — no pairs/token
    explode may appear in the final plan (the old shape re-executed the
    pairs explode three times and shuffled raw occurrences through the
    join)."""
    from cocktailsdb_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", 7)],
        "doc_id long, text string, lang string, n_chars int",
    )
    from tools.plan_audit import fmt_plan

    plan = fmt_plan(corpus.bigram_cross_entropy(docs))
    assert plan.lower().count("explode") == 0, plan
