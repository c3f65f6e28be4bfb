"""Retrieval operators over the ``documents`` table (north_star §X4
extension): BM25 ranking and inverted-index construction — the two
primitives a corpus-scale search/dedup stack needs beyond embeddings.

Both are pure JVM-side DataFrame programs with exact DuckDB twins in
registry_ops.py.

Cross-engine determinism notes (the part that makes the oracles exact):
- BM25 sums per-term contributions per doc. Double addition is not
  associative, and the two engines aggregate in different orders — so each
  contribution is quantized to 6 dp and summed as an exact integer
  (floor(c·1e6 + 0.5) summed as BIGINT, divided back once). Same trick as
  ``numeric.dsum``.
- avgdl is computed as exact-integer sum ÷ count (one IEEE division),
  never avg() — DuckDB's avg over ints may use a float accumulator.

Scale notes:
- bm25_rank filters the token explode to the query's terms BEFORE any
  shuffle — the aggregate sees |query| terms × matching docs, not the
  corpus. Scores shuffle once on doc_id; the final top-k is a
  TakeOrdered, not a global sort.
- inverted_index caps posting lists at ``max_postings`` entries (the
  unbounded collect_list is the classic hot-term OOM at corpus scale);
  full per-term counts are still exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tables import spread
from .text import tokens

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("data", "query", "window")
BM25_TOP_K = 10

INDEX_MAX_POSTINGS = 20


def bm25_rank(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """Okapi BM25: rank documents against a bag-of-words query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    """
    qt = F.array(*[F.lit(t) for t in query_terms])
    # one spread projection feeds BOTH passes: identical subtrees make
    # ReuseExchange share the scan+fan-out shuffle, and the corpus-wide
    # tokenize of the stats pass no longer runs on the single-row-group
    # scan's ONE task (r14; guide §2.4/§2.5)
    sp = spread(docs.select("doc_id", "text"))
    stats = sp.select(F.size(tokens()).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    # carry dl WITH the exploded rows: the per-doc length rides along to
    # the (doc, term) aggregate (min over a constant), so no doc-sized dl
    # frame ever joins back — the round-5 plan drops the two doc_id-keyed
    # join exchanges the original shape paid (7 → 4 exchanges, and the
    # removed two were the only ones carrying corpus-sized rows)
    # localCheckpoint: tf is tiny (docs matching the query × |query| terms)
    # and feeds BOTH the df aggregate and the scoring aggregate — without
    # materialization each consumer re-explodes the whole corpus (the plan
    # showed the token-explode subtree twice)
    tf = (
        sp.select(
            "doc_id", F.size(tokens()).alias("dl"), F.explode(tokens()).alias("term")
        )
        .filter(F.array_contains(qt, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    # quantize each contribution, sum exactly in integer space (see module
    # docstring) — the cross-term sum is then engine-order-independent
    q = F.floor(contrib * 1e6 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.sum(q) / 1e6).alias("score"), F.count("*").alias("n_terms_hit"))
    )
    # top-k FIRST via orderBy+limit → TakeOrderedAndProject (per-partition
    # heap + merge, no global sort); a bare global row_number window would
    # funnel every scored doc into one partition (no WindowGroupLimit
    # rewrite exists for an empty partition spec). The rank window then
    # only ever sees k rows.
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    pick = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        "doc_id",
        "score",
        F.col("n_terms_hit").cast("int").alias("n_terms_hit"),
        F.row_number().over(pick).cast("int").alias("rank"),
    )


POSTINGS_BUCKETS = 32


def _term_bucket_col(term: Column) -> Column:
    """crc32(term) mod B — the postings partition key. crc32 is identical
    in the JVM (F.crc32) and the Python driver (zlib.crc32), so the probe
    can compute a query's bucket list WITHOUT a Spark job."""
    return F.pmod(F.crc32(term.cast("binary")), F.lit(POSTINGS_BUCKETS)).cast("int")


def _term_bucket_py(term: str) -> int:
    import zlib

    return (zlib.crc32(term.encode("utf-8")) & 0xFFFFFFFF) % POSTINGS_BUCKETS


def _write_postings_segment(docs: DataFrame, seg_dir: str) -> None:
    # spread(): the corpus-wide explode + (doc, term) partial aggregate
    # otherwise run on the single-row-group scan's ONE task (r14)
    tok = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.size(tokens()).alias("dl"), F.explode(tokens()).alias("term")
    )
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
        .withColumn("term_bucket", _term_bucket_col(F.col("term")))
    )
    # cluster each bucket's files BY TERM: parquet row-group min/max on a
    # sorted column lets the probe's pushed `term IN (...)` skip every
    # row group that holds other terms — measured at the 4th decade
    # (scaling_r11.json "sf100_bm25"): without the sort the probe read whole
    # buckets and grew 2.2x per 10x corpus; with it the probe reads only
    # the query terms' row groups (the clustered-index contract)
    tf.sortWithinPartitions("term_bucket", "term").write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(seg_dir)


def _corpus_stats(docs: DataFrame) -> tuple[int, int]:
    s = docs.select(F.size(tokens()).alias("dl")).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    return int(s["n_docs"]), int(s["sum_dl"] or 0)


def postings_index_fresh(cache_dir: str, src_file: str) -> bool:
    """Valid iff the manifest exists (segment layout) AND every ACTIVE
    segment is complete (_SUCCESS) and newer than the source fixture —
    the same staleness contract as plans.layout._cache_fresh, applied
    per segment."""
    import os

    from ..sources.formats import _read_manifest

    m = _read_manifest(cache_dir, "_MANIFEST")
    if not m or "segments" not in m:
        return False
    if not os.path.exists(src_file):
        return False
    src_mtime = os.path.getmtime(src_file)
    for seg in m["segments"]:
        marker = os.path.join(cache_dir, seg, "_SUCCESS")
        if not os.path.exists(marker) or os.path.getmtime(marker) < src_mtime:
            return False
    return True


def postings_index_write(
    spark, docs: DataFrame, cache_dir: str, src_file: str
) -> str:
    """Materialize the POSTINGS TABLE at rest: one parquet row per
    (doc, term) with tf and the doc length, partitioned by
    ``term_bucket = crc32(term) % B`` inside a SEGMENT directory
    (``seg1``), plus a ``_MANIFEST`` (sources/formats.py atomic-pointer
    machinery) holding the active segment list and the EXACT corpus
    stats BM25 needs (n_docs, Σdl as integers — never a float average).
    Probes read ONLY manifested segments, so a crashed upsert — files
    written, manifest not yet bumped — leaves the previous index fully
    consistent (postings AND stats), not a half-merged one. The
    retrieval twin of the at-rest MinHash band table
    (dedup.minhash_index_write) and IVF cell index (similarity.py): at
    100 TB the corpus is tokenized ONCE; each query then reads
    ~|query|/B of the index, not the corpus."""
    import os

    from ..sources.formats import _read_manifest, _write_manifest

    if postings_index_fresh(cache_dir, src_file):
        return cache_dir
    _write_postings_segment(docs, os.path.join(cache_dir, "seg1"))
    n_docs, sum_dl = _corpus_stats(docs)
    _write_manifest(
        cache_dir,
        {
            "version": 1,
            "segments": ["seg1"],
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "params": {"buckets": POSTINGS_BUCKETS},
        },
        "_MANIFEST",
    )
    return cache_dir


def postings_index_upsert(spark, cache_dir: str, new_docs: DataFrame) -> str:
    """Add a NEW document batch to the stored index: the batch's
    postings land in a FRESH segment directory, and only the final
    manifest write — an atomic pointer swap — makes the segment (and
    the folded-in exact stats) visible to probes. BM25's global inputs
    (n_docs, Σdl, per-term df) are all additive, so a probe after
    upsert is bit-identical to a full rebuild over base ∪ delta (pinned
    by test and by the full-corpus oracle on the registered incremental
    entry). Crash safety: stats and postings become visible TOGETHER or
    not at all — an interrupted upsert leaves an orphan segment dir the
    next rebuild clears, never a stats/postings mismatch (contrast with
    parquet mode("append") into shared partition dirs, where appended
    files are readable before the stats catch up)."""
    import os

    from ..sources.formats import _read_manifest, _write_manifest

    m = _read_manifest(cache_dir, "_MANIFEST")
    if not m or "segments" not in m:
        raise ValueError(f"no postings index manifest under {cache_dir}")
    if m["params"] != {"buckets": POSTINGS_BUCKETS}:
        raise ValueError(
            "postings index was built under a different bucket constant — "
            "rebuild it (probing would read the wrong partitions)"
        )
    seg = f"seg{m['version'] + 1}"
    _write_postings_segment(new_docs, os.path.join(cache_dir, seg))
    n_docs, sum_dl = _corpus_stats(new_docs)
    _write_manifest(
        cache_dir,
        {
            **m,
            "version": m["version"] + 1,
            "segments": m["segments"] + [seg],
            "n_docs": m["n_docs"] + n_docs,
            "sum_dl": m["sum_dl"] + sum_dl,
        },
        "_MANIFEST",
    )
    return cache_dir


def postings_index_compact(spark, cache_dir: str) -> str:
    """Merge all active segments into ONE new segment and swap the
    manifest pointer — the maintenance step that keeps probe cost flat
    after many upserts (each active segment adds a scan branch to every
    probe). Corpus stats are unchanged (compaction moves postings, it
    does not add or drop any); the swap is atomic, so probes see either
    the old segment list or the compacted one, never a mix. Old segment
    dirs become orphans and are deleted AFTER the swap — a crash
    mid-delete leaves harmless unreferenced dirs, never a broken index."""
    import os
    import shutil

    from ..sources.formats import _read_manifest, _write_manifest

    m = _read_manifest(cache_dir, "_MANIFEST")
    if not m or "segments" not in m:
        raise ValueError(f"no postings index manifest under {cache_dir}")
    if len(m["segments"]) <= 1:
        return cache_dir
    seg = f"seg{m['version'] + 1}"
    merged = None
    for s in m["segments"]:
        part = spark.read.parquet(os.path.join(cache_dir, s))
        merged = part if merged is None else merged.unionByName(part)
    merged.write.mode("overwrite").partitionBy("term_bucket").parquet(
        os.path.join(cache_dir, seg)
    )
    old = m["segments"]
    _write_manifest(
        cache_dir,
        {**m, "version": m["version"] + 1, "segments": [seg]},
        "_MANIFEST",
    )
    for s in old:
        shutil.rmtree(os.path.join(cache_dir, s), ignore_errors=True)
    return cache_dir


def bm25_rank_stored(
    spark,
    cache_dir: str,
    query_terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """BM25 served from the at-rest postings index: hash-exact twin of
    ``bm25_rank`` (same oracle), but the scan is the index's query-term
    buckets — ``term_bucket IN (...)`` prunes partitions at planning
    time and ``term IN (...)`` is pushed into the parquet scan, so a
    query touches ~|query|/B of the postings instead of tokenizing the
    corpus.

    Determinism: n_docs and Σdl come from the manifest as exact
    integers; avgdl = Σdl/n_docs is ONE IEEE double division (python
    int/int here ≡ Spark long/long), so scores are bit-identical to the
    in-plan ranker's.

    The scan covers ONLY the manifest's active segments — files from an
    in-flight or crashed upsert are invisible until the manifest swap
    publishes postings and stats together."""
    import os

    from ..sources.formats import _read_manifest

    m = _read_manifest(cache_dir, "_MANIFEST")
    if not m or "segments" not in m:
        raise ValueError(f"no postings index manifest under {cache_dir}")
    if m["params"] != {"buckets": POSTINGS_BUCKETS}:
        raise ValueError(
            "postings index was built under a different bucket constant — "
            "rebuild it (probing would read the wrong partitions)"
        )
    n_docs, avgdl = m["n_docs"], m["sum_dl"] / m["n_docs"]
    buckets = sorted({_term_bucket_py(t) for t in query_terms})
    # one scan per segment, unioned: each segment is its own partitioned
    # table root (multi-root discovery would conflict), and the bucket
    # filter prunes partitions in EVERY branch of the union
    tf = None
    for s in m["segments"]:
        seg = spark.read.parquet(os.path.join(cache_dir, s)).filter(
            F.col("term_bucket").isin(buckets)
            & F.col("term").isin(list(query_terms))
        )
        tf = seg if tf is None else tf.unionByName(seg)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    q = F.floor(contrib * 1e6 + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .groupBy("doc_id")
        .agg((F.sum(q) / 1e6).alias("score"), F.count("*").alias("n_terms_hit"))
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    pick = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        "doc_id",
        "score",
        F.col("n_terms_hit").cast("int").alias("n_terms_hit"),
        F.row_number().over(pick).cast("int").alias("rank"),
    )


RRF_K0 = 60
RRF_TOP_K = 10
RRF_CAND_K = 20


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "doc_id",
    k0: int = RRF_K0,
    top_k: int = RRF_TOP_K,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke SIGIR'09): fuse N candidate
    rankings into one list by score(d) = Σ_r 1/(k0 + rank_r(d)), summing
    only over rankers that surfaced d.

    Each input frame carries (id_col, rank); the output exposes one
    nullable ``<name>_rank`` column per ranker plus ``rrf_score``,
    ``n_rankers`` and the fused ``rank``.

    Cross-engine determinism: each reciprocal is quantized to
    floor(1e6/(k0+rank)) and summed as BIGINT — integer addition is
    associative, so the fused score is independent of both engines'
    aggregation order (module-docstring convention).

    Scale notes: every input is already a per-query top-N (TakeOrdered in
    bm25_rank / rank-windowed candidates in cosine_topk), so the fusion
    join touches ≤ N·|rankers| rows per query — driver-trivial at any
    corpus size; candidate generation is where the 100 TB work lives
    (inverted index / ANN cells), and both feeders are bucketed there.
    The final top-k is orderBy+limit → TakeOrderedAndProject, no global
    sort; the rank window only ever sees k rows.
    """
    # union + conditional aggregate, NOT an N-way full-outer join: a full
    # outer join cannot broadcast (planned as sort-merge even for top-20
    # frames), while the union shape is one groupBy exchange over
    # ≤ N·|rankers| candidate rows total
    tagged = None
    for name, df in rankings.items():
        t = df.select(
            F.col(id_col),
            F.lit(name).alias("_ranker"),
            F.col("rank").cast("int").alias("_rank"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    recip_q = F.floor(
        F.lit(1_000_000.0) / (F.lit(k0) + F.col("_rank"))
    ).cast("long")
    scored = tagged.groupBy(id_col).agg(
        *[
            F.max(
                F.when(F.col("_ranker") == name, F.col("_rank"))
            ).alias(f"{name}_rank")
            for name in rankings
        ],
        (F.sum(recip_q) / 1e6).alias("rrf_score"),
        F.count("*").cast("int").alias("n_rankers"),
    )
    topk = scored.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(top_k)
    pick = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(pick).cast("int"))


PHRASE = ("data", "query")


def phrase_match(docs: DataFrame, phrase: tuple[str, ...] = PHRASE) -> DataFrame:
    """Positional phrase query: docs containing the exact consecutive
    token sequence, with occurrence count and first position (1-based).

    For phrase index i, frame f_i = positions of phrase[i] shifted to the
    phrase START (pos − i, the "anchor"); a k-term phrase is the inner
    join of the k frames on (doc_id, anchor) — each surviving anchor is
    one occurrence. Repeated phrase terms work unchanged: every f_i
    filters to ITS term, and anchors stay unique per frame because token
    positions are unique.

    Scale: the posexplode stream is filtered to the phrase's terms BEFORE
    any shuffle, so the adjacency joins see per-term posting rows, not
    the corpus; the k−1 joins share one (doc_id, anchor) partitioning."""
    if len(phrase) < 2:
        raise ValueError("a phrase needs at least two terms")
    tok = docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "term")
    ).filter(F.col("term").isin(list(set(phrase))))
    joined = None
    for i, t in enumerate(phrase):
        f_i = tok.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos0") - i).alias("anchor")
        )
        joined = f_i if joined is None else joined.join(f_i, ["doc_id", "anchor"])
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_occurrences"),
            (F.min("anchor") + 1).cast("int").alias("first_pos"),
        )
    )


SNIPPET_RADIUS = 3


def snippet_extract(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    radius: int = SNIPPET_RADIUS,
) -> DataFrame:
    """Search-result snippets: for every doc matching ANY query term,
    the ±radius token window around the FIRST matching position, plus
    which term hit there. Deterministic: token positions are unique, so
    "first hit" (min position) and the term at it (min_by) are exact.

    Scale: the hit frame is one row per MATCHING doc (posexplode cut to
    the query's terms pre-shuffle, min-aggregated); the window slice is
    a narrow per-row array op after one doc_id equi-join — no second
    explode, no window function."""
    tok = docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "term")
    ).filter(F.col("term").isin(list(query_terms)))
    hits = tok.groupBy("doc_id").agg(
        F.min("pos0").alias("first_pos0"),
        F.min_by("term", "pos0").alias("first_term"),
    )
    arr = tokens()
    start0 = F.greatest(F.col("first_pos0") - radius, F.lit(0))
    end0 = F.least(F.col("first_pos0") + radius, F.size(arr) - 1)
    return (
        docs.join(hits, "doc_id")
        .select(
            "doc_id",
            "first_term",
            (F.col("first_pos0") + 1).cast("int").alias("first_pos"),
            F.concat_ws(
                " ", F.slice(arr, start0 + 1, end0 - start0 + 1)
            ).alias("snippet"),
        )
    )


NEAR_TERMS = ("data", "window")
NEAR_DIST = 3


def terms_near(
    docs: DataFrame,
    term_a: str = NEAR_TERMS[0],
    term_b: str = NEAR_TERMS[1],
    max_dist: int = NEAR_DIST,
) -> DataFrame:
    """Proximity query: docs where ``term_a`` and ``term_b`` co-occur
    within ``max_dist`` token positions, either order. Output per doc:
    number of qualifying position pairs and the minimum distance.

    Scale: same posting-bounded shape as phrase_match — the explode is
    filtered to the two terms before the shuffle; the per-doc join is a
    cross of the two terms' posting lists for that doc (tf_a × tf_b
    pairs), the standard positional-intersection cost."""
    tok = docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos", "term")
    )
    a = tok.filter(F.col("term") == term_a).select("doc_id", F.col("pos").alias("pa"))
    b = tok.filter(F.col("term") == term_b).select("doc_id", F.col("pos").alias("pb"))
    dist = F.abs(F.col("pa") - F.col("pb"))
    pairs = a.join(b, "doc_id").filter((dist <= max_dist) & (dist > 0))
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_pairs"),
        F.min(dist).cast("int").alias("min_dist"),
    )


BOOL_MUST = ("data", "query")
BOOL_SHOULD = ("window", "stream", "vector")
BOOL_MUST_NOT = ("dup",)
BOOL_MIN_SHOULD = 1
BOOL_TOP_K = 10


def bool_search(
    docs: DataFrame,
    must: tuple[str, ...] = BOOL_MUST,
    should: tuple[str, ...] = BOOL_SHOULD,
    must_not: tuple[str, ...] = BOOL_MUST_NOT,
    min_should: int = BOOL_MIN_SHOULD,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = BOOL_TOP_K,
) -> DataFrame:
    """Boolean retrieval: docs containing ALL ``must`` terms, at least
    ``min_should`` of the ``should`` terms, and NONE of the ``must_not``
    terms, ranked by BM25 over the must+should contributions (same
    quantized-integer summation as ``bm25_rank`` → the oracle is exact).

    One explode filtered to the query's full term set BEFORE any shuffle
    feeds three consumers off a single materialized (doc, term, tf, dl)
    frame: the per-doc predicate flags (conditional aggregate — no
    per-clause joins), the per-term df, and the scoring sum. The clause
    predicate never touches the corpus again, so cost is bounded by the
    posting rows of the query's terms — the same scale shape as
    ``bm25_rank``. Final top-k is orderBy+limit (TakeOrdered heap), and
    the rank window sees only k rows."""
    scoring_terms = tuple(dict.fromkeys(must + should))
    all_terms = tuple(dict.fromkeys(scoring_terms + must_not))
    # shared spread projection — bm25_rank's rationale (one scan+fan-out
    # via ReuseExchange; stats tokenize no longer single-task)
    sp = spread(docs.select("doc_id", "text"))
    stats = sp.select(F.size(tokens()).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    tf = (
        sp.select(
            "doc_id", F.size(tokens()).alias("dl"), F.explode(tokens()).alias("term")
        )
        .filter(F.col("term").isin(list(all_terms)))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint()
    )
    flags = tf.groupBy("doc_id").agg(
        F.countDistinct(
            F.when(F.col("term").isin(list(must)), F.col("term"))
        ).alias("n_must"),
        F.countDistinct(
            F.when(F.col("term").isin(list(should)), F.col("term"))
        ).alias("n_should"),
        F.max(
            F.when(F.col("term").isin(list(must_not)), F.lit(1)).otherwise(F.lit(0))
        ).alias("excluded"),
    )
    matched = flags.filter(
        (F.col("n_must") == len(must))
        & (F.col("excluded") == 0)
        & (F.col("n_should") >= min_should)
    )
    # df comes from the tf frame: it holds EVERY doc containing a query
    # term, so per-term row counts are the corpus-wide document freqs
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    q = F.floor(contrib * 1e6 + F.lit(0.5)).cast("long")
    scored = (
        tf.filter(F.col("term").isin(list(scoring_terms)))
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.sum(q) / 1e6).alias("score"))
    )
    hit = matched.join(scored, "doc_id")
    topk = hit.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    pick = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        "doc_id",
        F.col("n_must").cast("int").alias("n_must"),
        F.col("n_should").cast("int").alias("n_should"),
        "score",
        F.row_number().over(pick).cast("int").alias("rank"),
    )


def inverted_index(docs: DataFrame, max_postings: int = INDEX_MAX_POSTINGS) -> DataFrame:
    """Term → posting-list index: exact per-term doc/occurrence counts plus
    the first ``max_postings`` postings as a deterministic
    ``doc:pos,doc:pos,...`` string (1-based positions, (doc_id, pos)
    order). The cap bounds per-term state; counts stay exact."""
    tok = spread(docs).select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    # both consumers hang off the SAME ranked frame: the counts aggregate
    # is rn-independent, so computing it post-window lets ReuseExchange
    # share the one term-keyed shuffle of the full token stream — the
    # former shape exploded and shuffled the corpus twice (guide §2.4)
    rn = Window.partitionBy("term").orderBy("doc_id", "pos")
    ranked = tok.withColumn("rn", F.row_number().over(rn))
    counts = ranked.groupBy("term").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_postings"),
    )
    capped = (
        ranked.filter(F.col("rn") <= max_postings)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "pos"))),
                    lambda s: F.concat_ws(
                        ":", s.doc_id.cast("string"), s.pos.cast("string")
                    ),
                ),
            ).alias("postings")
        )
    )
    return counts.join(capped, "term").select(
        "term",
        F.col("n_docs").cast("int").alias("n_docs"),
        F.col("n_postings").cast("int").alias("n_postings"),
        "postings",
    )


PFX_MAX_LEN = 8
PFX_MIN_COUNT = 2
PFX_TOP_K = 3


def prefix_completions(
    docs: DataFrame,
    max_len: int = PFX_MAX_LEN,
    min_count: int = PFX_MIN_COUNT,
    k: int = PFX_TOP_K,
) -> DataFrame:
    """Query-autocomplete index: for every term prefix, the top-k
    completions by corpus frequency (the completion-suggester component
    of every search stack — e.g. Lucene's AnalyzingSuggester, public).

    Built from the vocabulary, not the token stream: the explode factor
    is ≤ max_len per DISTINCT term, so index size is O(vocab · max_len)
    regardless of corpus size — the corpus-sized work is the one term
    count aggregate. Ranking is a window PARTITIONED BY prefix; ties
    break lexically. A term is its own completion (exact-match row).
    """
    tc = (
        spread(docs)
        .select(F.explode(tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= min_count) & (F.length("term") > 0))
    )
    pfx = tc.select(
        "term",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.least(F.length("term"), F.lit(max_len)))
        ).alias("g"),
    ).select(F.expr("substring(term, 1, g)").alias("prefix"), "term", "n")
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("term"))
    return (
        pfx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "prefix",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("prefix", "rank")
    )
