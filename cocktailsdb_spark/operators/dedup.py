"""Deduplication operators (SURVEY.md §2.5 O2 and §2.9 X1/X2):
latest-wins, exact content-hash, n-gram Jaccard, SimHash, MinHash-LSH,
embedding-cosine near-dup.

Design notes for 100 TB:
- exact dedup shuffles once on the 256-bit content hash (uniform key → no
  skew); latest-wins shuffles once on the logical key.
- n-gram Jaccard / MinHash avoid the O(N²) cross join by joining on shared
  shingles / LSH bands, i.e. candidate generation is an equi-join.
- SimHash reduces every doc to a 64-bit fingerprint (4 × 16-bit bands);
  banding the fingerprint gives near-dup candidates with a tiny shuffle key
  and full recall for hamming ≤ bands-1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import SIMHASH_BAND_BITS, SIMHASH_BANDS
from ..numeric import qround
from ..tables import spread
from .text import md5_prefix_value, tokens


def latest_wins(df: DataFrame, keys: list[str], order_desc: list[str]) -> DataFrame:
    """O2 — keep the newest record per logical key.

    The reference sorts desc + drop_duplicates(keep='first')
    (build_database.py:207-219); the Spark-native form is a row_number
    window — deterministic, unlike dropDuplicates. ``order_desc`` should
    end in a unique tiebreaker."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_desc])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """X1 — exact dedup by sha256(content); winner = lowest id (stable).
    One shuffle on the hash. Output keeps the hash for lineage."""
    hashed = df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
    w = Window.partitionBy("content_sha256").orderBy(F.asc(id_col))
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles of a token array — higher-order
    functions only (transform over a sequence of slices).

    Guarded for short docs: F.sequence(1, 0) would yield [1, 0] (Spark
    infers step -1), not an empty array."""
    count = F.size(tokens) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(count >= 1, grams).otherwise(empty))


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """X2 (exact variant) — near-dup pairs by n-gram Jaccard similarity.

    Candidate pairs come from an equi-join on shared shingles (inverted
    index), NOT a cross join: |pairs| scales with real overlap. Jaccard =
    |∩| / (|A|+|B|-|∩|). Output: doc_a < doc_b, jaccard (rounded)."""
    sh = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(tokens(), n)).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            qround(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """X2 — same exact output as :func:`ngram_jaccard_pairs`, using
    prefix filtering (PPJoin family) for candidate generation — the plan
    that survives 100 TB where the plain inverted index melts down on hot
    shingles.

    Two sets with Jaccard ≥ t must share ≥1 element within the first
    ``|S| - ceil(t·|S|) + 1`` elements of any globally-consistent ordering
    of each set (we sort shingles lexically). So only prefix shingles are
    exploded into the inverted index (≈(1-t)·|S| rows instead of |S|),
    the candidate join adds the length filter t·|B| ≤ |A| ≤ |B|/t, and
    exact Jaccard is verified per candidate with array_intersect on the
    full shingle arrays — no quadratic per-shingle pair aggregation.

    The sorted-shingle base feeds THREE plan branches (prefix index +
    both verify sides); ``localCheckpoint`` materializes it once instead
    of re-tokenizing/sorting per branch (2–4× at sf0.1). At cluster scale
    the same cut point is a persisted/checkpointed table (or a cached
    dataset) — recomputing the shingle sort of 100 TB three times is the
    thing to avoid.
    """
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(shingles(tokens(), n)).alias("sh"),
    ).withColumn("n_sh", F.size("sh")).localCheckpoint()
    # prefix length: n_sh - ceil(t*n_sh) + 1
    prefix_len = (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    pref = base.select(
        "doc_id", "n_sh", F.posexplode(F.slice("sh", 1, prefix_len)).alias("pos", "shingle")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin positional filter (Xiao et al. 2008, public): J ≥ t needs
    # overlap α = ceil(t/(1+t)·(|A|+|B|)); a match at 0-based positions
    # (i, j) of the sorted sets bounds the achievable overlap by
    # 1 + min(|A|−i−1, |B|−j−1), so matches that cannot reach α generate
    # no candidate. Recall is intact: for a true pair, its FIRST common
    # prefix element leaves ≥ α common elements at/after both positions.
    # Measured sf1: candidates 43.5M → a fraction, same verified output
    # (per-SF candidate vs verified counts: scaling_r8.json "neardup_pairs").
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    ubound = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos") - 1, F.col("b.n_sh") - F.col("b.pos") - 1
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: max(|A|,|B|)·t ≤ min(|A|,|B|) is necessary for J ≥ t
            & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"),
                     F.col("n_sh").alias("n_a"))
    fb = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"),
                     F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("jaccard", qround(inter / (F.col("n_a") + F.col("n_b") - inter), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """X2 (SimHash variant) — 64-bit simhash fingerprint per document,
    carried as SIMHASH_BANDS × 16-bit ints (``band0`` = most significant)
    plus the packed lowercase hex string ``simhash``.

    Bit j of band b is the sign of Σ_tokens (±1 by bit j of hex chars
    [4b+1..4b+4] of md5(token)). Banded ints avoid int64 sign issues at 64
    bits and double as the LSH join keys. Exact integer math →
    oracle-checkable on DuckDB (same md5, same hex parsing)."""
    tok = spread(docs).select(F.col(id_col).alias("doc_id"), F.explode(tokens()).alias("tok"))
    # one md5-derived 16-bit value per band, computed once per token
    tok = tok.select(
        "doc_id",
        *[
            md5_prefix_value(F.col("tok"), SIMHASH_BAND_BITS // 4, offset=4 * b).alias(f"v{b}")
            for b in range(SIMHASH_BANDS)
        ],
    )
    # F.expr strings, not Column-object chains: the 64 aggregate
    # expressions plus the 64-term band packing cost ~1000 py4j calls as
    # Column objects — measured 1.2 s of DRIVER-side plan build per run at
    # sf0.1, 3× the actual execution. One expr per column is one py4j
    # call; the parsed trees are identical (same functions, same integer
    # arithmetic), so results and the DuckDB oracle are unchanged. Same
    # lesson as similarity._cells_by_distance's from_json literal.
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(v{b}, {j}) & 1) * 2 - 1) AS s{b}_{j}")
            for b in range(SIMHASH_BANDS)
            for j in range(SIMHASH_BAND_BITS)
        ]
    )
    band_cols = [
        F.expr(
            "CAST("
            + " + ".join(
                f"(CASE WHEN s{b}_{j} > 0 THEN {1 << j} ELSE 0 END)"
                for j in range(SIMHASH_BAND_BITS)
            )
            + f" AS INT) AS band{b}"
        )
        for b in range(SIMHASH_BANDS)
    ]
    out = bit_sums.select("doc_id", *band_cols)
    return out.withColumn(
        "simhash",
        F.concat(
            *[
                F.lpad(F.lower(F.hex(F.col(f"band{b}"))), 4, "0")
                for b in range(SIMHASH_BANDS)
            ]
        ),
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup candidate pairs via SimHash banding: the 64-bit fingerprint
    is split into SIMHASH_BANDS (4) bands of 16 bits; pairs agreeing on ≥1
    band are candidates, then filtered by true hamming distance. 4 bands
    guarantee full recall for hamming ≤ 3 (pigeonhole) — strictly wider
    than the default max_hamming=2. Candidate generation is an equi-join on
    (band_id, band_value); 16-bit bands keep bucket collision rates sane at
    billions of docs (65k values per band × 4 bands)."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banding with {SIMHASH_BANDS} bands only guarantees recall for "
            f"hamming <= {SIMHASH_BANDS - 1}, got max_hamming={max_hamming}"
        )
    # materialize the fingerprints ONCE: the band-explode self-join plans
    # this subtree 8× (4 union branches × 2 join sides) — ReuseExchange
    # only shares the shuffle files, so the 64-lane final aggregate would
    # still re-run per occurrence (measured 5.7 → 3.9 s at sf0.1; the same
    # fix a cluster deployment makes by persisting the fingerprint table)
    fps = simhash(docs).localCheckpoint()
    bcols = [f"band{b}" for b in range(SIMHASH_BANDS)]
    bands = None
    for b in range(SIMHASH_BANDS):
        sel = fps.select(
            "doc_id", *bcols, F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_val")
        )
        bands = sel if bands is None else bands.unionByName(sel)
    a = bands.alias("a")
    b_ = bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.band{b}").alias(f"a{b}") for b in range(SIMHASH_BANDS)],
            *[F.col(f"b.band{b}").alias(f"b{b}") for b in range(SIMHASH_BANDS)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"b{b}")))
        for b in range(SIMHASH_BANDS)
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Group near-dup pairs into clusters (connected components) — the
    step that turns pairwise similarity into "keep one per group" dedup.

    Iterative min-label propagation: every node starts labeled with its
    own id; each round a node takes the min of its label and its
    neighbors' labels; fixpoint = every node carries its component's min
    id. Convergence is checked on the driver via the label sum (strictly
    decreasing until fixpoint — one scalar per round, never a collect of
    the data). ``localCheckpoint`` truncates the growing lineage each
    round. Rounds needed = graph diameter; near-dup components are
    shallow (dup groups are cliques-ish), so this converges in a few
    rounds at any scale. Output: (doc_id, cluster_id) for every doc that
    appears in at least one pair."""
    pairs = ngram_jaccard_pairs_prefix(docs, n=n, threshold=threshold, id_col=id_col)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_canonical(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """The corpus-dedup DECISION: one row per document with its near-dup
    cluster (own id for singletons), the cluster size, and whether the doc
    is the cluster's kept canonical representative — highest quality score
    wins, doc-id-asc tiebreak. This is the output a training-data pipeline
    actually ships: filter ``is_canonical`` and the corpus is deduped
    while every drop stays attributable to its surviving twin.

    Scale shape: clusters from :func:`dedup_clusters` (bounded-iteration
    label propagation), quality from a single narrow pass; the canonical
    choice is a ``max_by(struct(quality, -id))`` AGGREGATE (map-side
    partial, one shuffle on cluster_id) — not a window sort. doc_id is
    unique, so the struct argmax is deterministic."""
    from .text import quality_score

    clusters = dedup_clusters(docs, n=n, threshold=threshold, id_col=id_col)
    q = quality_score(docs).select(F.col("doc_id").alias(id_col), "quality")
    labeled = (
        q.join(clusters.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )
    canon = labeled.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col("quality"), (-F.col(id_col)).alias("_t"))
        ).alias("_canon"),
        F.count("*").alias("n_members"),
    )
    return (
        labeled.join(canon, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "n_members",
            (F.col(id_col) == F.col("_canon")).alias("is_canonical"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    spark,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (MinHash-LSH variant) — pyspark.ml MinHashLSH over hashed token
    shingle features. Seeded → deterministic row count (rows-only check:
    LSH randomness has no SQL oracle). Output: doc_a, doc_b, jaccard_dist."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    toks = docs.select(F.col(id_col).alias("doc_id"), F.split("text", " ").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(toks)
    # MinHashLSH requires ≥1 non-zero entry; token arrays are non-empty.
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


def embedding_near_dup(
    emb: DataFrame, threshold: float = 0.95, block_col: str = "label"
) -> DataFrame:
    """X2 (embedding variant) — near-dup pairs by cosine ≥ threshold,
    blocked on ``block_col`` so candidate generation is an equi-join
    (at scale: replace label with an LSH bucket, see similarity.ivf_topk)."""
    from .similarity import SIM_ROUND, dot, with_norm

    base = with_norm(emb).select("vec_id", F.col(block_col).alias("_blk"), "_vec", "_norm")
    a = base.alias("a")
    b = base.alias("b")
    from ..numeric import qround as _qr

    sim = _qr(
        dot(F.col("a._vec"), F.col("b._vec")) / (F.col("a._norm") * F.col("b._norm")),
        SIM_ROUND,
    )
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame, col: str = "p_name", max_dist: int = 3
) -> DataFrame:
    """Record linkage / entity resolution: fuzzy-match pairs of DISTINCT
    values of ``col`` with edit distance ≤ ``max_dist`` (unit-cost
    Levenshtein — identical semantics on both engines, so the oracle is
    value-exact).

    Candidate generation is heuristic BLOCKING, never a cross join: an
    equi-join on the first character plus the necessary length-band
    filter |len(a) − len(b)| ≤ max_dist. Pairs whose very first character
    differs are missed by design — candidate-recall blocking, the same
    contract as the simhash banding notes. At billions of keys the block
    key becomes a composite (2-char prefix, length band) or q-gram set;
    the join shape — equi-join on the block key, verify inside the
    block — is unchanged."""
    names = df.select(F.col(col).alias("name")).distinct()
    keyed = names.select(
        "name",
        F.substring("name", 1, 1).alias("blk"),
        F.length("name").alias("len"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.name") < F.col("b.name"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def boilerplate_ngrams(
    docs: DataFrame, n: int = 5, min_docs: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level boilerplate detection (the cross-document half of the
    repeated-content family; the intra-document half is
    filters.repetition_stats): a word n-gram that occurs in at least
    ``min_docs`` DISTINCT documents is boilerplate — headers, footers,
    license blocks, templated sentences. CCNet/RefinedWeb-style pipelines
    strip these before training.

    Output: (gram, n_docs) for every boilerplate gram.

    Scale shape: one explode of distinct-per-doc shingles (bounded by
    token count), then ONE map-side-combined shuffle on the gram to count
    distinct docs — counting distinct doc_ids per gram needs no second
    shuffle because the exploded rows are already (gram, doc) pairs with
    per-doc distinct grams, so count(*) == count(distinct doc). No joins,
    no windows; the gram key space is uniform (text hashing), so no skew.
    """
    ex = spread(docs).select(
        F.col(id_col), F.explode(shingles(tokens(), n)).alias("gram")
    )
    return (
        ex.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_coverage(
    docs: DataFrame, n: int = 5, min_docs: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document boilerplate exposure: of the document's n-gram
    OCCURRENCES (with repeats — every token position starts one), how many
    are corpus-boilerplate (:func:`boilerplate_ngrams`)? The per-doc
    fraction is the filter signal — a doc that is mostly boilerplate gets
    dropped, one with a single boilerplate footer survives.

    Output: (doc_id, n_grams, n_boiler, boiler_ratio); documents shorter
    than ``n`` tokens have no occurrences and are excluded (same contract
    in the oracle twin).

    Scale shape: the boilerplate set joins the occurrence stream on the
    gram — an equi-join Spark plans as broadcast when the set is small
    (the common case: boilerplate is a tiny fraction of distinct grams)
    and as a shuffle join otherwise; then one groupBy on doc_id. Left
    join + count-if, so non-boilerplate occurrences are counted without a
    second scan of the corpus."""
    boiler = boilerplate_ngrams(docs, n=n, min_docs=min_docs, id_col=id_col)
    count = F.size(tokens()) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens(), i, n)),
    )
    occ = (
        spread(docs)
        .filter(count >= 1)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )
    hit = boiler.select("gram", F.lit(1).alias("_is_boiler"))
    return (
        occ.join(hit, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_is_boiler"), F.lit(0))).alias("n_boiler"),
            qround(
                F.sum(F.coalesce(F.col("_is_boiler"), F.lit(0))).cast("double")
                / F.count("*"),
                6,
            ).alias("boiler_ratio"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space
    with the coarse quantizer (nearest label-centroid cell — the same
    zero-exchange literal assignment as similarity.kmeans_assign), then
    inside each cell drop every vector that has a LOWER-id neighbour with
    cosine ≥ ``threshold`` (greedy keep-first — deterministic, no
    iteration). Near-identical paraphrases land in the same cell and
    collapse to one representative.

    Output: (vec_id, cell, kept) for every vector.

    ``threshold`` is data-dependent: real text-embedding corpora run at
    0.9+; these synthetic uniform-ish fixtures top out at cosine ≈ 0.47
    within a cell, so the default demonstrates the operator at 0.35.

    Scale shape: cell assignment is a narrow map (centroid set folded in
    as a Catalyst literal — zero exchanges on N); the candidate self-join
    shuffles both sides once on the cell id. Per-cell work is quadratic
    in cell size, which is exactly SemDeDup's contract — the cluster
    count is chosen ∝ N so cells stay bounded (~N/C vectors each); with
    the fixtures' label-count cells this is C=10."""
    from .similarity import (
        SIM_ROUND,
        _cells_by_distance,
        _collect_centroids,
        dot,
        with_norm,
    )

    cents = _collect_centroids(emb, vec_col)
    base = with_norm(emb, vec_col).select(id_col, "_vec", "_norm")
    # materialize the assignment once: the self-join consumes it on BOTH
    # sides, and without a persist each side re-evaluates the C×dim
    # distance expression over the full corpus (measured ~2× the
    # assignment cost at sf0.1). A real deployment stores the cell id at
    # write time — the persist is the in-session stand-in for that column.
    assign = base.withColumn(
        "cell", F.element_at(_cells_by_distance(F.col("_vec"), cents), 1)["cell"]
    ).persist()
    assign.count()
    a, b = assign.alias("a"), assign.alias("b")
    sim = qround(
        dot(F.col("a._vec"), F.col("b._vec")) / (F.col("a._norm") * F.col("b._norm")),
        SIM_ROUND,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(sim >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return assign.join(dropped, id_col, "left").select(
        id_col, "cell", F.col("_dropped").isNull().alias("kept")
    )


SEMDEDUP_BASE_POP = 2_000  # corpus size at which the 4-plane default holds


def semantic_dedup_scaled(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """SemDeDup with a SCALING partition cardinality — the 100 TB form of
    :func:`semantic_dedup`, whose per-cell work is quadratic in cell size
    while its cell count is the FIXED label-centroid set (C=10 on the
    fixtures). That contract holds only while clusters stay bounded; the
    round-11 scaled embeddings exposed it (sf1 replicas grew every cell
    10×, the within-cell self-join 100× — 2.8 s → 52.7 s, and sf10 would
    be hours). SemDeDup's own answer is a cluster count ∝ N; with a
    deterministic oracle-shared quantizer we get there by splitting each
    centroid cell with hyperplane-LSH sign buckets
    (similarity.plane_bucket — the ivf_topk family's planes): partition =
    (cell, bucket), +1 plane per corpus doubling keeps the per-partition
    population — and therefore the quadratic factor — constant.

    Approximation contract (documented, like every LSH family here): a
    cosine-neighbour pair split across sub-buckets is not compared, so
    the scaled form KEEPS a superset of semantic_dedup's survivors —
    finer partitions only ever drop fewer vectors. At real-corpus
    thresholds (0.9+) near-identical pairs have near-parallel vectors,
    which agree on every hyperplane sign with probability
    (1 − θ/π)^H → high; the synthetic fixtures run the demo threshold.

    ``planes=None`` picks the knob from the corpus itself: the default
    4 planes up to SEMDEDUP_BASE_POP TOTAL vectors, then +1 plane per
    corpus doubling (capped at make_planes' 16 distinct members) — so
    the REGISTERED entry is scale-correct without the caller knowing
    the knob exists. The registered DuckDB twin computes the SAME
    count-derived plane gate (registry_ops._sql_bucket_adaptive), so
    oracle parity holds at every corpus size — verified hash-exact at
    sf1, where the adaptive choice (8 planes) differs from the 4-plane
    default. Measured at sf10 the adaptive entry runs ~7 s where a
    fixed 4-plane run took 336 s (scaling_r11_s2.json).

    Output: (vec_id, cell, bucket, kept) — same contract plus the
    sub-bucket."""
    import math

    from ..constants import N_PLANES, make_planes
    from .similarity import (
        SIM_ROUND,
        _cells_by_distance,
        _collect_centroids,
        dot,
        plane_bucket,
        with_norm,
    )

    cents = _collect_centroids(emb, vec_col)
    base = with_norm(emb, vec_col).select(id_col, "_vec", "_norm")
    # persist the EXPENSIVE half (norms + C×dim centroid distances) and
    # let its materializing count double as the adaptive plane gate —
    # one pass over the corpus instead of a separate emb.count() job
    # (advice r11). The bucket column stays OUTSIDE the persist: it is
    # p×dim per row, cheap to recompute per consumer, and computing it
    # after the count is what lets the gate pick p at all.
    cells = base.withColumn(
        "cell",
        F.element_at(_cells_by_distance(F.col("_vec"), cents), 1)["cell"],
    ).persist()
    n = cells.count()
    if planes is None:
        extra = max(0, math.ceil(math.log2(max(n, 1) / SEMDEDUP_BASE_POP)))
        planes = make_planes(min(16, N_PLANES + extra))
    assign = cells.withColumn("bucket", plane_bucket(F.col("_vec"), planes))
    a, b = assign.alias("a"), assign.alias("b")
    sim = qround(
        dot(F.col("a._vec"), F.col("b._vec"))
        / (F.col("a._norm") * F.col("b._norm")),
        SIM_ROUND,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(sim >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return assign.join(dropped, id_col, "left").select(
        id_col, "cell", "bucket", F.col("_dropped").isNull().alias("kept")
    )


MINHASH_H = 16  # signature length
MINHASH_BANDS_N = 4  # 4 bands × 4 rows: collide iff a 4-slice matches
MINHASH_P = (1 << 61) - 1  # Mersenne prime for the universal hash family
# fixed seeded (a, b, r) per signature position: h_i(v) = (a·(v⊕r) + b)
# mod P. The XOR scramble is LOAD-BEARING: without it the affine map is
# monotone in v whenever a·v stays under P, so every lane picks the SAME
# argmin shingle and the signature degenerates to a function of min(v) —
# measured 256 → 11,231 candidates at sf0.1 for the same 250 verified
# pairs. Per-lane XOR permutes the value order, restoring independent
# minima (256 candidates again). a ∈ [1, 2³⁰) keeps a·(v⊕r) under 2⁶²
# for 32-bit v — ANSI-safe 64-bit arithmetic on both engines.
import random as _random  # noqa: E402 — seeded, constants only

_rng = _random.Random(0x5EED)
MINHASH_AB = [
    (
        _rng.randrange(1, 1 << 30),
        _rng.randrange(0, 1 << 30),
        _rng.randrange(0, 1 << 32),
    )
    for _ in range(MINHASH_H)
]
del _rng


def minhash_banded_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    n_bands: int = MINHASH_BANDS_N,
    sig_base: DataFrame | None = None,
) -> DataFrame:
    """X2 — hand-rolled deterministic MinHash + banding with EXACT verify:
    the oracle-checkable twin of :func:`minhash_lsh_pairs` (whose
    pyspark.ml hash functions are engine-internal and thus rows-only).
    Signature h_s(doc) = min over distinct shingles of
    md5_value(seed_s ++ shingle); candidates collide iff any of the
    ``MINHASH_BANDS_N`` contiguous signature slices matches exactly;
    collided pairs are verified with the TRUE Jaccard (array_intersect
    over the carried shingle sets) — so every emitted pair is a real
    near-duplicate, and only candidate RECALL is probabilistic.

    Output: (doc_a, doc_b, jaccard) for verified pairs with a band
    collision. Deterministic on both engines — md5 is the shared hash.

    Scale shape: signatures/bands are a narrow map over the shingle
    array; candidate generation is ONE equi-join on (band_id, band key)
    — the bucketed path, no all-pairs; verification happens in-row on
    the joined shingle arrays (at 100 TB carry a capped shingle sample
    or re-join content by id instead)."""
    cand = minhash_banded_candidates(docs, n, id_col, n_bands=n_bands, sig_base=sig_base)
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
    jac = qround(inter.cast("double") / union, 4)
    return cand.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_sig_base(docs: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """The banding-config-INDEPENDENT signature frame (id, _sh, _sig),
    checkpointed — shared by every banding configuration derived from
    the same 16-lane signature (minhash_band_recall builds it once and
    slices it three ways)."""
    sh = shingles(tokens(), n)
    vals = F.transform(F.col("_sh"), lambda s: md5_prefix_value(s, 8))

    def _mix(a: int, b: int, r: int):
        return lambda v: (
            v.bitwiseXOR(F.lit(r)) * F.lit(a) + F.lit(b)
        ) % F.lit(MINHASH_P)

    sigs = F.array(
        *[
            F.array_min(F.transform(F.col("_vals"), _mix(a, b, r)))
            for a, b, r in MINHASH_AB
        ]
    )
    # The non-empty-shingle filter is applied as its cheap equivalent
    # size(tokens) >= n BEFORE the spread: written as size(_sh) >= 1
    # after the projection, predicate pushdown re-derives the whole
    # shingle transform below the round-robin exchange, so the heavy
    # array build ran twice — once single-task on the unsplit scan side
    # (measured 2.5 s of the 3.3 s sig_base wall at sf0.1) and again
    # post-shuffle. Equivalence: shingles() emits size(tokens)-(n-1)
    # grams (concat_ws is never NULL, array_distinct of >=1 keeps >=1),
    # so size(_sh) >= 1 <=> size(tokens) >= n; NULL text drops the row
    # under both forms.
    return (
        spread(docs.filter(F.size(tokens()) >= n))
        .select(F.col(id_col), sh.alias("_sh"))
        .withColumn("_vals", vals)
        .withColumn("_sig", sigs)
        .drop("_vals")
        .localCheckpoint()
    )


def minhash_bands(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    n_bands: int = MINHASH_BANDS_N,
    sig_base: DataFrame | None = None,
) -> DataFrame:
    """The banded MinHash frame (doc_id, _sh, band_id, band_key) — one
    row per (doc, band), checkpointed (the self-join and the at-rest
    index both consume it more than once; ReuseExchange shares only
    shuffle files). The shingle set rides along for the in-row exact
    verify (at 100 TB: a capped shingle sample, or re-join content by
    id — the band table itself stays 4 small strings per doc)."""
    if MINHASH_H % n_bands:
        raise ValueError(f"n_bands must divide {MINHASH_H}")
    rows_per_band = MINHASH_H // n_bands
    base = sig_base if sig_base is not None else minhash_sig_base(docs, n, id_col)
    return base.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
                        .cast("array<string>")
                        .alias("bk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "_sh", F.col("b.band_id").alias("band_id"),
             F.concat_ws(",", F.col("b.bk")).alias("band_key"))


def minhash_banded_candidates(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    n_bands: int = MINHASH_BANDS_N,
    sig_base: DataFrame | None = None,
) -> DataFrame:
    """The PRE-verification band-collision pairs of
    :func:`minhash_banded_pairs` (with both shingle sets carried for the
    in-row verify) — split out so scaling diagnostics can count
    candidates separately from verified output.

    Signatures use the standard universal-hash construction (datasketch
    and every production MinHash do the same): ONE md5 per distinct
    shingle yields a 32-bit value v, then h_i(v) = (a_i·v + b_i) mod
    (2⁶¹−1) with fixed seeded (a_i, b_i) pairs — pure 64-bit integer
    arithmetic after the single digest, a_i < 2³⁰ and v < 2³² keep the
    product under 2⁶² (ANSI-overflow-safe, identical on DuckDB BIGINT).
    The previous form computed MINHASH_H seeded md5s per shingle — 16×
    the digest work for the same statistical guarantee (the true-Jaccard
    verify makes candidate recall the only probabilistic part either
    way)."""
    banded = minhash_bands(docs, n, id_col, n_bands=n_bands, sig_base=sig_base)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a._sh").alias("_sha"),
            F.col("b._sh").alias("_shb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand


# --- incremental near-dup index (the dedup twin of similarity's at-rest
# --- IVF index): band table at rest + manifest-versioned upsert + probe


def minhash_index_write(
    spark, docs: DataFrame, cache_dir: str, src_file: str, n: int = 3
) -> str:
    """Materialize the MinHash BAND TABLE at rest: one parquet row per
    (doc, band) with the band join key, partitioned by band_id, plus a
    ``_MANIFEST`` (sources/formats.py atomic-pointer machinery) recording
    version, row count, and the signature parameters — so a probe from a
    LATER session can refuse an index built under different constants
    instead of silently missing collisions. The corpus-side half of
    continuous dedup: new batches probe (and join) this table instead of
    re-banding 100 TB per run."""
    from ..plans.layout import _cache_fresh
    from ..sources.formats import _read_manifest, _write_manifest

    if _cache_fresh(cache_dir, src_file) and _read_manifest(cache_dir, "_MANIFEST"):
        return cache_dir
    bands = minhash_bands(docs, n)
    bands.write.mode("overwrite").partitionBy("band_id").parquet(cache_dir)
    _write_manifest(
        cache_dir,
        {
            "version": 1,
            "rows": docs.count(),
            "params": {"n": n, "h": MINHASH_H, "bands": MINHASH_BANDS_N,
                       "p": MINHASH_P, "ab": [list(x) for x in MINHASH_AB]},
        },
        "_MANIFEST",
    )
    return cache_dir


def _minhash_index_params(cache_dir: str) -> dict:
    from ..sources.formats import _read_manifest

    m = _read_manifest(cache_dir, "_MANIFEST")
    if not m or "params" not in m:
        raise ValueError(f"no minhash index manifest under {cache_dir}")
    current = {"n": m["params"]["n"], "h": MINHASH_H, "bands": MINHASH_BANDS_N,
               "p": MINHASH_P, "ab": [list(x) for x in MINHASH_AB]}
    if m["params"] != current:
        raise ValueError(
            "minhash index was built under different signature constants — "
            "rebuild it (probing would silently miss collisions)"
        )
    return m


def minhash_index_upsert(
    spark, cache_dir: str, new_docs: DataFrame, n: int = 3
) -> str:
    """Append a NEW document batch's band rows to the stored table (same
    frozen constants, checked against the manifest) and version-bump —
    the delta-only maintenance path; a crashed upsert leaves a readable
    version-1 index plus orphan files the next rebuild clears."""
    from ..sources.formats import _read_manifest, _write_manifest

    m = _minhash_index_params(cache_dir)
    bands = minhash_bands(new_docs, n)
    bands.write.mode("append").partitionBy("band_id").parquet(cache_dir)
    _write_manifest(
        cache_dir,
        {**m, "version": m["version"] + 1, "rows": m["rows"] + new_docs.count()},
        "_MANIFEST",
    )
    return cache_dir


def minhash_index_probe(
    spark,
    cache_dir: str,
    query_docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs between a QUERY batch and the whole stored corpus
    index: band the batch with the manifest-checked constants, equi-join
    its band keys against the at-rest table (band_id partition pruning +
    a delta-sized build side — never an N×N self-join), then the exact
    in-row Jaccard verify. Output (doc_a < doc_b, jaccard ≥ t), the same
    contract as :func:`minhash_banded_pairs` restricted to pairs touching
    the batch."""
    _minhash_index_params(cache_dir)
    stored = spark.read.parquet(cache_dir)
    q = minhash_bands(query_docs, n)
    pairs = (
        stored.alias("s")
        .join(
            F.broadcast(q.select("doc_id", "band_id", "band_key")).alias("q"),
            (F.col("s.band_id") == F.col("q.band_id"))
            & (F.col("s.band_key") == F.col("q.band_key"))
            & (F.col("s.doc_id") != F.col("q.doc_id")),
        )
        .select(
            F.least("s.doc_id", "q.doc_id").alias("doc_a"),
            F.greatest("s.doc_id", "q.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sides = stored.select("doc_id", "_sh").dropDuplicates(["doc_id"])
    fa = sides.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sha"))
    fb = sides.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
    jac = qround(inter.cast("double") / union, 4)
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


DUP_SPAN_N = 8
DUP_SPAN_MIN_DOCS = 2


def duplicate_spans(
    docs: DataFrame,
    n: int = DUP_SPAN_N,
    min_docs: int = DUP_SPAN_MIN_DOCS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-passage extraction — the substring-dedup primitive
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", public: remove exact substrings shared across documents, not
    just whole-document dupes). Suffix arrays don't distribute; the
    equivalent anchored form does: a token position is DUPLICATED if the
    word n-gram starting there occurs in ≥ ``min_docs`` distinct
    documents, and maximal duplicated PASSAGES are the merged unions of
    the overlapping n-gram windows (positions p, p' merge iff
    p' ≤ p + n — classic gaps-and-islands).

    Output per document with ≥1 span: (doc_id, n_spans, dup_tokens,
    n_tokens, dup_fraction) where dup_tokens is the EXACT union coverage
    of the merged windows — the number of tokens a substring-dedup pass
    would cut. Intra-document repeats alone don't count (cross-doc
    duplication is the dedup signal; repetition_stats owns intra-doc).

    Scale shape: one shingle explode with positions (bounded by token
    count), the boilerplate_ngrams distinct-doc gram count (ONE map-side
    shuffle on the gram), an equi-join back on the gram (broadcast when
    the duplicated-gram set is small, shuffle otherwise), then two
    doc-partitioned windows sharing one exchange for the island merge.
    No data-sized global sort; gram keys are text-uniform so no planned
    skew.
    """
    count = F.size(tokens()) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens(), i, n)),
    )
    occ = (
        spread(docs)
        .filter(count >= 1)
        .select(
            F.col(id_col),
            F.size(tokens()).cast("long").alias("n_tokens"),
            F.posexplode(grams).alias("i", "gram"),
        )
        .select(id_col, "n_tokens", (F.col("i") + 1).alias("pos"), "gram")
    )
    dup = boilerplate_ngrams(docs, n=n, min_docs=min_docs, id_col=id_col).select(
        "gram"
    )
    hits = occ.join(dup, "gram").select(id_col, "n_tokens", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + n),
        1,
    ).otherwise(0)
    flagged = hits.withColumn("brk", brk)
    spans = (
        flagged.withColumn(
            "span_id",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "n_tokens", "span_id")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + n - 1).alias("e"),
        )
    )
    return (
        spans.groupBy(id_col, "n_tokens")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
        )
        .select(
            id_col,
            "n_spans",
            "dup_tokens",
            "n_tokens",
            qround(
                F.col("dup_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy(id_col)
    )


MBR_BAND_COUNTS = (2, 4, 8)  # over the fixed 16-lane signature


def minhash_band_recall(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    band_counts: tuple[int, ...] = MBR_BAND_COUNTS,
) -> DataFrame:
    """Recall of the banded-MinHash detector vs the EXACT qualifying
    pair set, per banding configuration — the measured cost/quality dial
    for the near-dup family (the LSH s-curve P(collide) =
    1−(1−j^r)^b made empirical), completing the dial story the ANN
    families (ivf_recall_at_k) and the geo grid (knn_recall_at_k)
    already have: more bands of fewer rows → a laxer collision test →
    higher recall AND more candidates to verify.

    Ground truth is :func:`ngram_jaccard_pairs_prefix` at the SAME
    shingle n and threshold — the prefix-filtered exact path (the plan
    that scales), so truth is never all-pairs. Banded pairs are
    verified-exact with the same threshold, hence a SUBSET of truth:
    recall = |detected| / |truth| with no join needed.
    """
    truth = ngram_jaccard_pairs_prefix(docs, n=n, threshold=threshold)
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    sig_base = minhash_sig_base(docs, n)  # shingle+sign ONCE for all configs
    out = None
    for b in band_counts:
        det = minhash_banded_pairs(
            docs, n=n, threshold=threshold, n_bands=b, sig_base=sig_base
        )
        row = (
            det.agg(F.count("*").alias("n_detected"))
            .crossJoin(F.broadcast(n_true))
            .select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(MINHASH_H // b).cast("int").alias("rows_per_band"),
                F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
                F.col("n_detected").cast("long").alias("n_detected"),
                qround(
                    F.col("n_detected").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands")


def minhash_band_precision(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    band_counts: tuple[int, ...] = MBR_BAND_COUNTS,
) -> DataFrame:
    """Precision of the banded-MinHash CANDIDATE generator per banding
    configuration — the cost half of the dial whose quality half is
    :func:`minhash_band_recall`: more bands of fewer rows buys recall by
    admitting MORE candidate pairs, every one of which pays an exact
    Jaccard verify. n_candidates is that verify bill; band_precision =
    n_verified / n_candidates is the fraction of the bill that yields a
    real near-duplicate. Together the two entries put measured numbers
    on the LSH s-curve trade a 100 TB dedup run must tune before
    spending cluster-days.

    One shingle+signature pass shared across configurations
    (:func:`minhash_sig_base`), then per config ONE (band_id, band key)
    equi-join and an in-row verify — counts only, so output is
    |band_counts| rows regardless of corpus size."""
    sig_base = minhash_sig_base(docs, n)
    out = None
    for b in band_counts:
        cand = minhash_banded_candidates(docs, n, n_bands=b, sig_base=sig_base)
        inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
        union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
        jac = qround(inter.cast("double") / union, 4)
        row = (
            cand.select(jac.alias("jaccard"))
            .agg(
                F.count("*").alias("nc"),
                F.sum(
                    F.when(F.col("jaccard") >= threshold, 1).otherwise(0)
                ).alias("nv"),
            )
            .select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(MINHASH_H // b).cast("int").alias("rows_per_band"),
                F.col("nc").cast("long").alias("n_candidates"),
                F.col("nv").cast("long").alias("n_verified"),
                qround(
                    F.col("nv").cast("double")
                    / F.nullif(F.col("nc"), F.lit(0)).cast("double"),
                    6,
                ).alias("band_precision"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands")


def minhash_band_frontier(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    band_counts: tuple[int, ...] = MBR_BAND_COUNTS,
) -> DataFrame:
    """The banding COST-QUALITY FRONTIER in one frame (round 12): per
    configuration, recall vs the exact qualifying pair set
    (:func:`minhash_band_recall`'s quality dial), candidate precision
    (:func:`minhash_band_precision`'s cost dial), and the composed
    number an operator actually budgets with — ``verify_cost_per_true``,
    the exact-Jaccard verifications paid per real near-duplicate found.
    This is the single readout a 100 TB dedup run prices the s-curve
    trade from: walk the frontier rows, pick the cheapest config whose
    recall clears the mandate.

    One shingle+signature pass (:func:`minhash_sig_base`) and ONE truth
    count shared across configurations; each config adds one
    (band_id, key) equi-join + in-row verify. Output is |band_counts|
    rows regardless of corpus size."""
    truth = ngram_jaccard_pairs_prefix(docs, n=n, threshold=threshold)
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    sig_base = minhash_sig_base(docs, n)
    out = None
    for b in band_counts:
        cand = minhash_banded_candidates(docs, n, n_bands=b, sig_base=sig_base)
        inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
        union = F.size(F.col("_sha")) + F.size(F.col("_shb")) - inter
        jac = qround(inter.cast("double") / union, 4)
        row = (
            cand.select(jac.alias("jaccard"))
            .agg(
                F.count("*").alias("nc"),
                F.sum(
                    F.when(F.col("jaccard") >= threshold, 1).otherwise(0)
                ).alias("nv"),
            )
            .crossJoin(F.broadcast(n_true))
            .select(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(MINHASH_H // b).cast("int").alias("rows_per_band"),
                F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
                F.col("nc").cast("long").alias("n_candidates"),
                F.col("nv").cast("long").alias("n_verified"),
                qround(
                    F.col("nv").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                ).alias("recall"),
                qround(
                    F.col("nv").cast("double")
                    / F.nullif(F.col("nc"), F.lit(0)).cast("double"),
                    6,
                ).alias("band_precision"),
                qround(
                    F.col("nc").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                ).alias("verify_cost_per_true"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands")


STC_HAMMING_CUTOFFS = (1, 2, 3)


def simhash_threshold_curve(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    cutoffs: tuple[int, ...] = STC_HAMMING_CUTOFFS,
) -> DataFrame:
    """Precision/recall of SimHash near-dup detection per hamming cutoff
    against the exact Jaccard truth — SimHash's quality dial (the third
    of the three near-dup detectors to get one, after MinHash banding's
    and the exact prefix filter which IS truth). A looser cutoff admits
    more pairs: recall rises, precision falls — this entry pins the
    whole trade as data.

    Candidates + hamming are computed ONCE (band join, full recall for
    hamming ≤ SIMHASH_BANDS−1 by pigeonhole); each cutoff is then a
    filter on the materialized candidate frame. Truth is the
    prefix-filtered exact path at the stated (n, threshold) —
    never all-pairs.
    """
    cand = (
        simhash_near_dup_pairs(docs, max_hamming=max(cutoffs))
        .select("doc_a", "doc_b", "hamming")
        .localCheckpoint()
    )
    truth = (
        ngram_jaccard_pairs_prefix(docs, n=n, threshold=threshold)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    out = None
    for d in cutoffs:
        det = cand.filter(F.col("hamming") <= d)
        hits = det.join(truth, ["doc_a", "doc_b"])
        row = (
            det.agg(F.count("*").alias("n_detected"))
            .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_hits"))))
            .crossJoin(F.broadcast(n_true))
            .select(
                F.lit(d).cast("int").alias("max_hamming"),
                F.col("n_detected").cast("long").alias("n_detected"),
                F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.when(
                    F.col("n_detected") > 0,
                    qround(
                        F.col("n_hits").cast("double")
                        / F.col("n_detected").cast("double"),
                        6,
                    ),
                ).alias("precision"),
                qround(
                    F.col("n_hits").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("max_hamming")
