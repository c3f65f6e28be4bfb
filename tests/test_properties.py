"""Property-based tests (hypothesis) for the determinism-critical helpers.

Each property runs ONE Spark job over a hypothesis-generated batch
(examples are bounded — Spark-per-example would be too slow) and compares
against a plain-Python model of the intended semantics.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cocktailsdb_spark.numeric import qround  # noqa: E402
from cocktailsdb_spark.operators import dedup  # noqa: E402

TOKENS = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=0, max_size=12
)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=30), st.integers(0, 6))
def test_qround_is_floor_half_up(spark, xs, k):
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [r[0] for r in df.select(qround(F.col("x"), k)).collect()]
    scale = float(10**k)
    expected = [math.floor(x * scale + 0.5) / scale for x in xs]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(TOKENS, st.integers(2, 4))
def test_shingles_match_python_model(spark, toks, n):
    df = spark.createDataFrame([(" ".join(toks),)], "text string") if toks else None
    if df is None:
        return
    got = df.select(dedup.shingles(F.split("text", " "), n).alias("s")).first()["s"]
    model = []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in model:
            model.append(g)
    assert got == model


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    )
)
def test_latest_wins_exactly_one_row_per_key_and_max_order(spark, rows):
    # (key, order_a, unique-ified tiebreak) — uniqueness via index
    data = [(k, a, i) for i, (k, a, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, a int, uid int")
    out = dedup.latest_wins(df, ["k"], ["a", "uid"]).collect()
    keys = [r["k"] for r in out]
    assert sorted(keys) == sorted(set(k for k, _, _ in data))
    # winner is the max (a, uid) per key — the deterministic latest
    expect = {}
    for k, a, uid in data:
        if k not in expect or (a, uid) > expect[k]:
            expect[k] = (a, uid)
    assert {r["k"]: (r["a"], r["uid"]) for r in out} == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=8), min_size=1, max_size=10
    )
)
def test_bigram_counts_match_python_model(spark, docs):
    from collections import Counter

    from cocktailsdb_spark.operators import corpus

    rows = [(i, " ".join(toks), "en", "s") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = [(r.bigram, r.n) for r in corpus.bigram_counts(df, top_n=100).collect()]
    model = Counter()
    for toks in docs:
        for a, b in zip(toks, toks[1:]):
            model[f"{a} {b}"] += 1
    expected = sorted(model.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),                    # user
            st.integers(0, 50),                   # second offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_funnel_matches_python_model(spark, evs):
    from datetime import datetime, timedelta

    from cocktailsdb_spark.operators import events as EV

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=s), u, t) for i, (u, s, t) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r.step: r.n_users for r in EV.funnel_steps(df).collect()}
    steps = ("view", "click", "purchase")
    counts = dict.fromkeys(steps, 0)
    by_user = {}
    for u, s, t in evs:
        by_user.setdefault(u, []).append((s, t))
    for seq in by_user.values():
        seq.sort()
        prev = None
        for k, step in enumerate(steps):
            cand = [s for s, t in seq if t == step and (prev is None or s > prev)]
            if not cand:
                break
            prev = min(cand)
            counts[step] += 1
    assert got == counts


@settings(max_examples=4, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_bpe_merges_match_python_model(spark, docs):
    """The Spark BPE trainer must agree with the greedy reference on
    arbitrary tiny corpora — pair counting (overlapping, freq-weighted),
    (count desc, pair lexicographic) argmax, left-to-right merge."""
    from cocktailsdb_spark.operators import corpus
    from tests.test_corpus import _bpe_reference

    freqs: dict[str, int] = {}
    for t in docs:
        for w in t.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    expected = _bpe_reference(freqs, 3)
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in corpus.bpe_merges(df, n_merges=3).orderBy("merge_rank").collect()
    ]
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-100.0, max_value=700000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=60,
    ),
    n_groups=st.integers(min_value=1, max_value=3),
)
def test_quantile_two_pass_equals_naive_on_random_frames(spark, vals, n_groups):
    """Histogram narrowing must equal the naive sort for ANY data —
    including out-of-domain values (clamped edge buckets), duplicates,
    and 1-row groups."""
    from cocktailsdb_spark.operators import relational as R

    rows = [
        (i, f"G{i % n_groups}", float(v)) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    naive = {
        r.o_orderpriority: (r.p50, r.p90) for r in R.quantile_disc(df).collect()
    }
    fast = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in R.quantile_two_pass(df).collect()
    }
    assert fast == naive


@settings(max_examples=10, deadline=None)
@example(
    # a one-row group on a negative bucket edge (-2.5), a zero count, and
    # two distinct values sharing a bucket
    cells={(0, -5): (3, 0), (1, 5): (0, 2), (1, 6): (7, 7)},
    grouped=True,
)
@given(
    cells=st.dictionaries(
        keys=st.tuples(st.integers(0, 2), st.integers(-40, 40)),
        values=st.tuples(st.integers(0, 10_000), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    ),
    grouped=st.booleans(),
)
def test_bucketed_prefix_equals_python_running_counts(spark, cells, grouped):
    """The two-pass bucketed prefix must equal a plain cumulative count
    for ANY distinct-value frame: heavy ties (large counts), values on
    bucket edges (multiples of the 2.5 width), negative values (negative
    floor buckets), one-row groups, zero counts and two count columns."""
    from cocktailsdb_spark.operators.relational import bucketed_prefix

    if not grouped:  # one group: merge the generated groups by value
        merged: dict[tuple[int, int], tuple[int, int]] = {}
        for (_, k), (a, b) in cells.items():
            pa, pb = merged.get((0, k), (0, 0))
            merged[(0, k)] = (pa + a, pb + b)
        cells = merged
    rows = [(g, k * 0.5, a, b) for (g, k), (a, b) in cells.items()]
    df = spark.createDataFrame(rows, "g int, v double, ca long, cb long").withColumn(
        "bucket", F.floor(F.col("v") / F.lit(2.5))
    )
    got = {
        (r.g, r.v): (r.cum_ca, r.cum_cb, r.n_ca, r.n_cb)
        for r in bucketed_prefix(
            df, "v", ("ca", "cb"), group=("g",) if grouped else ()
        ).collect()
    }
    model = {}
    for g in {g for g, *_ in rows}:
        mine = sorted((v, a, b) for gg, v, a, b in rows if gg == g)
        na, nb = sum(a for _, a, _ in mine), sum(b for *_, b in mine)
        cum_a = cum_b = 0
        for v, a, b in mine:
            cum_a, cum_b = cum_a + a, cum_b + b
            model[(g, v)] = (cum_a, cum_b, na, nb)
    assert got == model


@settings(max_examples=6, deadline=None)
@given(
    lex=st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True),
    sem=st.lists(st.integers(0, 40), min_size=1, max_size=12, unique=True),
    k0=st.integers(1, 100),
)
def test_rrf_fuse_matches_python_model(spark, lex, sem, k0):
    """Fused scores/order must equal the plain-Python RRF model for ANY
    pair of rankings: score = Σ floor(1e6/(k0+rank))/1e6 over the rankers
    that surfaced the doc, ties broken by doc_id ascending."""
    from cocktailsdb_spark.operators import retrieval as R

    lex_df = spark.createDataFrame(
        [(d, i + 1) for i, d in enumerate(lex)], "doc_id long, rank int"
    )
    sem_df = spark.createDataFrame(
        [(d, i + 1) for i, d in enumerate(sem)], "doc_id long, rank int"
    )
    got = R.rrf_fuse({"lex": lex_df, "sem": sem_df}, k0=k0, top_k=100).collect()

    model: dict[int, dict] = {}
    for name, ranking in (("lex", lex), ("sem", sem)):
        for i, d in enumerate(ranking):
            rec = model.setdefault(
                d, {"lex": None, "sem": None, "q": 0, "n": 0}
            )
            rec[name] = i + 1
            rec["q"] += math.floor(1e6 / (k0 + i + 1))
            rec["n"] += 1
    order = sorted(model, key=lambda d: (-model[d]["q"], d))
    assert [r.doc_id for r in got] == order
    for r in got:
        m = model[r.doc_id]
        assert (r.lex_rank, r.sem_rank) == (m["lex"], m["sem"])
        assert r.rrf_score == m["q"] / 1e6
        assert r.n_rankers == m["n"]
    assert [r.rank for r in got] == list(range(1, len(order) + 1))
