"""Hypothesis property tests (SURVEY.md §5.3): randomized inputs for
the invariants the example-based suites pin at single points —
merge idempotence/new-wins, quality clean/flag partitioning, and the
fixed-point-sum ≡ decimal-sum equivalence behind the fast aggregates.

Each example round-trips one generated batch through Spark, so
max_examples stays small; the value is the generator exploring key
collisions, nulls, and boundary values no hand fixture covers.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from finance_data_pipeline_spark import ingest, quality
from finance_data_pipeline_spark import functions as fx

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (symbol, day-index, value) rows; small key spaces force collisions.
row = st.tuples(
    st.sampled_from(["AAPL", "MSFT", "S1"]),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=-3, max_value=1000),
)


def _df(spark, rows):
    data = [
        (sym, f"2024-01-{d:02d}", float(v))
        for sym, d, v in rows
    ]
    return spark.createDataFrame(data, "symbol string, date string, close double").select(
        "symbol", F.to_date("date").alias("date"), "close"
    )


@given(old=st.lists(row, max_size=12), new=st.lists(row, max_size=12))
@settings(**SETTINGS)
def test_upsert_idempotent_unique_and_new_wins(spark, old, new):
    df_old, df_new = _df(spark, old), _df(spark, new)
    once = ingest.upsert(df_old, df_new, key=["symbol", "date"], order_col="close")
    twice = ingest.upsert(once, df_new, key=["symbol", "date"], order_col="close")
    got_once = {tuple(r) for r in once.collect()}
    # idempotence: applying the same batch again changes nothing
    assert {tuple(r) for r in twice.collect()} == got_once
    # key uniqueness post-merge
    keys = [(r.symbol, r.date) for r in once.collect()]
    assert len(keys) == len(set(keys))
    # new-wins: every key present in `new` resolves to new's max value
    want_new = {}
    for sym, d, v in new:
        k = (sym, d)
        want_new[k] = max(want_new.get(k, float(v)), float(v))
    for r in once.collect():
        k = (r.symbol, r.date.day)
        if k in want_new:
            assert r.close == want_new[k]


ohlcv = st.tuples(
    st.one_of(st.none(), st.floats(min_value=-10, max_value=200, allow_nan=False)),
    st.one_of(st.none(), st.floats(min_value=-10, max_value=200, allow_nan=False)),
    st.one_of(st.none(), st.floats(min_value=-10, max_value=200, allow_nan=False)),
    st.one_of(st.none(), st.floats(min_value=-10, max_value=200, allow_nan=False)),
    st.one_of(st.none(), st.integers(min_value=-5, max_value=10)),
)


@given(rows=st.lists(ohlcv, max_size=15))
@settings(**SETTINGS)
def test_clean_flag_partition_is_exact(spark, rows):
    """clean(df) must keep EXACTLY the rows flag(df) marks violation-free
    — the filter predicate and the labeling array can never disagree."""
    data = [
        ("AAPL", f"2024-01-{i % 28 + 1:02d}", o, h, lo, c, float(v) if v is not None else None)
        for i, (o, h, lo, c, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "symbol string, date string, open double, high double, low double, "
        "close double, volume double",
    ).select(
        "symbol", F.to_date("date").alias("date"), "open", "high", "low", "close",
        F.col("volume").cast("long").alias("volume"),
    )
    cleaned = {tuple(r) for r in quality.clean(df).collect()}
    flagged = quality.flag(df).collect()
    no_violation = {
        tuple(r)[:-1] for r in flagged if len(r.violations) == 0
    }
    assert cleaned == no_violation


@given(cents=st.lists(st.integers(min_value=-10**12, max_value=10**12), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_fixed_point_sum_equals_decimal_sum(spark, cents):
    """fx.fixed_point_sum over 2dp doubles must equal the decimal-cast
    sum for arbitrary sign/magnitude mixes within the documented bound."""
    df = spark.createDataFrame([(c / 100.0,) for c in cents], "x double")
    fast, exact = df.agg(
        fx.fixed_point_sum("x", 100).alias("fast"),
        F.sum(F.col("x").cast("decimal(28,2)")).cast("double").alias("exact"),
    ).first()
    assert fast == exact


@given(
    vals=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=30),
)
@settings(**SETTINGS)
def test_change_islands_reconstructs_input(spark, vals):
    """Property: islands are ordered, non-overlapping, gapless, carry
    the run's value, and their n_rows sum back to the input length —
    for ANY value sequence."""
    from finance_data_pipeline_spark.operators.relational import change_islands

    df = spark.createDataFrame(
        [("K", i, v) for i, v in enumerate(vals)], "key string, ord int, val int"
    )
    out = change_islands(df, "key", "ord", F.col("val"), "val").orderBy("valid_from").collect()
    assert sum(r["n_rows"] for r in out) == len(vals)
    # Reconstruct the sequence from the islands.
    rebuilt = []
    prev_end = -1
    for r in out:
        assert r["valid_from"] == prev_end + 1, "islands must be gapless"
        assert r["valid_to"] >= r["valid_from"]
        rebuilt.extend([r["val"]] * r["n_rows"])
        prev_end = r["valid_to"]
    assert rebuilt == vals
    # Adjacent islands must carry different values (maximal runs).
    for a, b in zip(out, out[1:]):
        assert a["val"] != b["val"]


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=3, max_size=40), min_size=2, max_size=6
    ),
)
@settings(**SETTINGS)
def test_containment_self_and_bounds(spark, texts):
    """Property: containment values lie in (0, 1]; an exact duplicate
    pair (if present) has containment 1.0 in both directions."""
    from finance_data_pipeline_spark.extensions.dedup import containment_pairs

    rows = [(i, t) for i, t in enumerate(texts + [texts[0]])]  # force one dup pair
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.0).collect()
    }
    dup_a, dup_b = 0, len(texts)
    for c in out.values():
        assert 0.0 < c <= 1.0
    if texts[0].strip():
        assert out.get((dup_a, dup_b)) == 1.0
        assert out.get((dup_b, dup_a)) == 1.0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_star_cc_equals_label_propagation(spark, edges):
    """Property: large-star/small-star and min-label propagation agree
    on every random graph — same nodes, same component minima."""
    from finance_data_pipeline_spark.extensions.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lp = {(r["doc_id"], r["cluster_id"]) for r in connected_components(df).collect()}
    star = {(r["doc_id"], r["cluster_id"]) for r in connected_components_star(df).collect()}
    assert star == lp


def test_containment_prefix_filter_is_exact(spark):
    """The one-sided prefix filter in containment_pairs must lose NO
    pairs vs brute-force exact containment (it is a pruning bound, not
    an approximation). Checked on a slice of the real documents table."""
    import re

    from finance_data_pipeline_spark.extensions.dedup import containment_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 120")
        .select("doc_id", "text")
    )
    rows = docs.collect()

    def shingles(text, k=3):
        toks = re.split(r"\s+", text.strip().lower())
        if len(toks) >= k:
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    sets = {r["doc_id"]: shingles(r["text"]) for r in rows}
    t = 0.9
    expected = {
        (a, b): round(len(sa & sets[b]) / len(sa), 6)
        for a, sa in sets.items()
        for b in sets
        if a != b and len(sa & sets[b]) / len(sa) >= t
    }
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, threshold=t).collect()
    }
    assert got == expected


# --- round-3: repeated n-gram spans vs a brute-force reference ------------

_word = st.sampled_from(["a", "b", "c", "d"])
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@given(texts=st.lists(_doc, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_repeated_ngram_stats_matches_bruteforce(spark, texts):
    """Tiny 4-word alphabet at n=3 forces heavy cross- and within-doc
    gram collisions; per-doc (n_grams, dup_grams) must equal a plain
    Python recount over all (doc, pos) gram occurrences."""
    from collections import Counter

    from finance_data_pipeline_spark.extensions import dedup

    n = 3
    grams = {}
    counts = Counter()
    for did, t in enumerate(texts):
        toks = t.split()
        g = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)] if len(toks) >= n else []
        grams[did] = g
        counts.update(g)
    expect = {
        did: (len(g), sum(counts[x] >= 2 for x in g)) for did, g in grams.items()
    }

    docs = spark.createDataFrame(
        [(i, t if t else " ") for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.dup_grams)
        for r in dedup.repeated_ngram_stats(docs, n=n).collect()
    }
    assert out == expect


# --- round-3: span removal vs brute force ---------------------------------

# min_size=1: a whitespace-only doc normalizes to ONE empty token in
# Spark (split of "" yields [""]) while a naive .split() yields [] —
# an input-representation artifact, not an operator property.
_sdoc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10).map(" ".join)


@given(texts=st.lists(_sdoc, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_remove_dup_spans_matches_bruteforce(spark, texts):
    """n=3 over a 3-word alphabet: recompute canonical-span removal in
    plain Python (min (doc, pos) occurrence survives; removed windows
    cover their 3 token positions) and require identical
    (n_tokens, n_removed, cleaned text) per doc."""
    import hashlib

    from finance_data_pipeline_spark.extensions import dedup

    n = 3
    toks = {i: t.split() for i, t in enumerate(texts)}
    occ = {}
    for did, ws in toks.items():
        for s in range(len(ws) - n + 1):
            occ.setdefault(" ".join(ws[s : s + n]), []).append((did, s))
    removed = {did: set() for did in toks}
    for gram, locs in occ.items():
        if len(locs) >= 2:
            canon = min(locs)
            for did, s in locs:
                if (did, s) != canon:
                    removed[did].update(range(s, s + n))
    expect = {}
    for did, ws in toks.items():
        kept = [w for p, w in enumerate(ws) if p not in removed[did]]
        expect[did] = (
            len(ws),
            len(ws) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    docs = spark.createDataFrame(
        [(i, t if t else " ") for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_md5)
        for r in dedup.remove_duplicate_spans(docs, n=n).collect()
    }
    assert out == expect


# --- round-3: semantic dedup vs brute force -------------------------------

_vec = st.lists(
    st.sampled_from([1.0, 0.5, -0.5, -1.0, 2.0]), min_size=3, max_size=3
)


@given(vecs=st.lists(_vec, min_size=2, max_size=8))
@settings(**SETTINGS)
def test_semantic_dedup_matches_bruteforce(spark, vecs):
    """Replay assignment (argmax rounded cosine, ties → lowest cid) and
    greedy intra-bucket pruning in plain Python; kept sets must match."""
    import math

    from finance_data_pipeline_spark.extensions import similarity

    k, thr = 2, 0.9

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return round(num / den, 6)

    vd = dict(enumerate(vecs))
    cents = {cid: vd[cid] for cid in range(min(k, len(vd)))}
    assign = {
        vid: max(cents, key=lambda c: (cos(e, cents[c]), -c))
        for vid, e in vd.items()
    }
    dropped = {
        b
        for a in vd
        for b in vd
        if a < b and assign[a] == assign[b] and cos(vd[a], vd[b]) >= thr
    }
    expect = {vid: assign[vid] for vid in vd if vid not in dropped}

    df = spark.createDataFrame(
        [(i, v) for i, v in vd.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: r.cluster_id
        for r in similarity.semantic_dedup(
            df, k_centroids=k, threshold=thr
        ).collect()
    }
    assert got == expect


# --- line_dedup brute-force replay ---------------------------------------

_texts = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=25
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(texts=_texts)
@settings(**SETTINGS)
def test_line_dedup_matches_bruteforce(spark, texts):
    """Pure-python replay of the spec: tile into 10-token segments,
    remove every segment text appearing in >= 2 distinct docs, rebuild."""
    import hashlib

    from finance_data_pipeline_spark.extensions import dedup

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_segments, r.n_removed, r.cleaned_md5)
        for r in dedup.line_dedup(docs).collect()
    }

    segs = {
        i: [
            " ".join(t.split()[p : p + 10])
            for p in range(0, len(t.split()), 10)
        ]
        for i, t in enumerate(texts)
    }
    owners = {}
    for i, ss in segs.items():
        for s in set(ss):
            owners.setdefault(s, set()).add(i)
    want = {}
    for i, ss in segs.items():
        kept = [s for s in ss if len(owners[s]) < 2]
        want[i] = (
            len(ss),
            len(ss) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    assert got == want


# --- pagerank brute-force replay -----------------------------------------

_edges_pr = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=12,
)


@given(edges=_edges_pr, seeds=st.none() | st.sets(st.integers(0, 6), max_size=3))
@example(edges=[(0, 1), (1, 2)], seeds=None)
@example(edges=[(0, 1), (1, 2)], seeds={0})
@settings(**SETTINGS)
def test_pagerank_matches_integer_replay(spark, edges, seeds):
    """Pure-python integer replay of the exact update rule — any
    deviation in Spark's aggregation/join plan shows up bit-for-bit.
    ``seeds=None`` replays pagerank; a seed set replays
    personalized_pagerank (teleport and initial mass on the seeds that
    are graph nodes only). Node 2 of the examples has no out-edge."""
    from finance_data_pipeline_spark.extensions import graph

    df = spark.createDataFrame(edges, "src long, dst long")
    if seeds is None:
        out = graph.pagerank(df)
    else:
        seed_df = spark.createDataFrame([(v,) for v in seeds], "node long")
        out = graph.personalized_pagerank(df, seed_df)
    got = {r.node: r.rank_scaled for r in out.collect()}

    scale, d = 1_000_000_000, 85
    nodes = sorted({n for e in edges for n in e})
    on = set(nodes) if seeds is None else set(nodes) & seeds
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    if not on:
        assert got == {v: 0 for v in nodes}
        return
    teleport = ((100 - d) * scale // 100) // len(on)
    r = {v: scale // len(on) if v in on else 0 for v in nodes}
    for _ in range(5):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {v: (teleport if v in on else 0) + (d * s[v]) // 100 for v in nodes}
    assert got == r


# --- bpe_train brute-force replay ----------------------------------------

_bpe_texts = st.lists(
    st.lists(
        st.sampled_from(["ab", "aba", "bb", "aab", "ba"]), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=4,
)


@given(texts=_bpe_texts)
@settings(**SETTINGS)
def test_bpe_train_matches_bruteforce(spark, texts):
    """Pure-python BPE replay: weighted pair counts over the vocab,
    lexicographic-tie argmax, greedy left-to-right non-overlap merge."""
    from collections import Counter

    from finance_data_pipeline_spark.extensions import text as tx

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_weight)
        for r in tx.bpe_train(docs, n_merges=3).collect()
    ]

    vocab = Counter()
    for t in texts:
        for w in t.split():
            vocab[w] += 1
    syms = {w: [c for c in w] for w in vocab}
    want = []
    for rank in range(1, 4):
        counts = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for j in range(len(s) - 1):
                counts[(s[j], s[j + 1])] += f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, cnt))
        for w in syms:
            s, out, j = syms[w], [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[w] = out
    assert got == want


# --- session-4 operators ---------------------------------------------------

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
)


@given(
    lead=st.lists(_words, max_size=6),
    run=st.lists(_words, min_size=6, max_size=8),
    tail=st.lists(_words, max_size=6),
)
@settings(**SETTINGS)
def test_winnowing_guarantee_randomized(spark, lead, run, tail):
    """Schleimer et al.'s guarantee under random contexts: any two docs
    sharing a token run of length >= w + k - 1 (= 6 at k=3, w=4) share
    at least one selected fingerprint, wherever the run sits."""
    from finance_data_pipeline_spark.extensions import winnow

    d = spark.createDataFrame(
        [
            (1, " ".join(lead + run + ["uniqueend", "one"])),
            (2, " ".join(["uniquestart", "two"] + run + tail)),
        ],
        "doc_id long, text string",
    )
    fp = winnow.winnowing_fingerprints(d, k=3, w=4)
    a = {r.gram_hash for r in fp.filter("doc_id = 1").collect()}
    b = {r.gram_hash for r in fp.filter("doc_id = 2").collect()}
    assert a & b


_kv = st.tuples(
    st.integers(min_value=1, max_value=8), st.integers(min_value=0, max_value=3)
)


@given(old=st.lists(_kv, max_size=10), new=st.lists(_kv, max_size=10))
@settings(**SETTINGS)
def test_snapshot_diff_randomized(spark, old, new):
    """diff(X, X) is empty; diff labels reproduce a dict-based model
    (last value wins per key, mirroring distinct-on-key snapshots)."""
    from finance_data_pipeline_spark.operators import relational as rel

    dold = {k: v for k, v in old}
    dnew = {k: v for k, v in new}
    fo = spark.createDataFrame(
        list(dold.items()) or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    fn = spark.createDataFrame(
        list(dnew.items()) or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    assert rel.snapshot_diff(fo, fo, ["k"]).count() == 0
    got = {r.k: r.change_type for r in rel.snapshot_diff(fo, fn, ["k"]).collect()}
    want = {}
    for k in set(dold) | set(dnew):
        if k not in dnew:
            want[k] = "removed"
        elif k not in dold:
            want[k] = "added"
        elif dold[k] != dnew[k]:
            want[k] = "changed"
    assert got == want


@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4)
)
@settings(**SETTINGS)
def test_temperature_quota_randomized(spark, counts):
    """Quotas never exceed source sizes, fill deterministically, and
    sum close to the budget when sources can absorb it."""
    from finance_data_pipeline_spark.extensions import sampling

    rows, did = [], 0
    for si, n in enumerate(counts):
        for _ in range(n):
            rows.append((did, f"s{si}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    budget = 16
    out = sampling.temperature_mix(docs, alpha=0.5, budget_docs=budget)
    per = {
        r["source"]: (r["kept"], r["quota"])
        for r in out.groupBy("source")
        .agg(F.count("*").alias("kept"), F.first("quota").alias("quota"))
        .collect()
    }
    sizes = {f"s{si}": n for si, n in enumerate(counts)}
    for srcname, (kept, quota) in per.items():
        assert kept == quota <= sizes[srcname]
    # quotas from floor(x + 0.5) can each be off by < 1/2
    assert sum(q for _, q in per.values()) <= budget + len(counts)


# (event_id unique via enumerate, user from tiny space, second offset)
_burst_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.integers(min_value=0, max_value=1200),       # epoch second
    ),
    max_size=24,
)


@given(rows=_burst_rows)
@settings(**SETTINGS)
def test_windowed_pair_join_always_equals_naive_theta_join(spark, rows):
    """For ANY timestamp layout (bin-edge collisions, duplicates,
    empty), the radius-binned equi join returns exactly the naive
    per-key theta join's pairs — the optimization is invisible."""
    from finance_data_pipeline_spark.operators import relational as rel

    ev = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, t long",
    ).select("event_id", "user_id", F.col("t").cast("timestamp").alias("ts"))
    got = {
        (r.user_id, r.id_a, r.id_b, r.dt_sec)
        for r in rel.windowed_pair_join(
            ev, key="user_id", ts="ts", id_col="event_id", radius_sec=300
        ).collect()
    }
    a, b = ev.alias("a"), ev.alias("b")
    naive = {
        (r["user_id"], r["id_a"], r["id_b"], r["dt_sec"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            (
                F.unix_timestamp("b.ts").cast("long")
                - F.unix_timestamp("a.ts").cast("long")
            ).alias("dt_sec"),
        )
        .filter(F.abs(F.col("dt_sec")) <= 300)
        .collect()
    }
    assert got == naive


_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"])
_doc_text = st.lists(_word, min_size=1, max_size=12).map(" ".join)


@given(texts=st.lists(_doc_text, min_size=2, max_size=8))
@settings(**SETTINGS)
def test_decontaminate_spans_idempotent_and_bounded(spark, texts):
    """Scrubbing an already-scrubbed corpus removes nothing more
    (idempotence over the digest), and n_removed never exceeds
    n_tokens. Doc 0 is the benchmark; tiny word alphabet forces
    4-gram collisions."""
    import hashlib

    from finance_data_pipeline_spark.extensions import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    bench = spark.createDataFrame([(0,)], "doc_id long")
    out = dedup.decontaminate_spans(docs, bench, n=4).collect()
    assert {r.doc_id for r in out} == set(range(1, len(texts)))
    for r in out:
        assert 0 <= r.n_removed <= r.n_tokens
    # rebuild the cleaned texts (from the original tokens minus removed
    # spans we can't see directly — so round-trip via a second pass on
    # docs whose digests say they were untouched)
    untouched = [r.doc_id for r in out if r.n_removed == 0]
    if untouched:
        again = {
            r.doc_id: r.cleaned_md5
            for r in dedup.decontaminate_spans(
                docs.filter(F.col("doc_id").isin([0] + untouched)), bench, n=4
            ).collect()
        }
        first = {r.doc_id: r.cleaned_md5 for r in out}
        for d in untouched:
            assert again[d] == first[d] == hashlib.md5(
                " ".join(texts[d].lower().split()).encode()
            ).hexdigest()


text_strat = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=60,
)


@given(texts=st.lists(text_strat, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_canonical_text_idempotent_and_format_invariant(spark, texts):
    """canonical(canonical(x)) == canonical(x); uppercasing or doubling
    the whitespace of the input never changes its canonical form — the
    exact property the near-exact dedup relies on."""
    from finance_data_pipeline_spark.extensions import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    canon = df.select(
        "doc_id", dedup.canonical_text("text").alias("c1")
    ).withColumn("c2", dedup.canonical_text(F.col("c1")))
    for r in canon.collect():
        assert r.c1 == r.c2
    mangled = df.select(
        "doc_id",
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    a = {r.doc_id: r.c for r in df.select("doc_id", dedup.canonical_text("text").alias("c")).collect()}
    b = {r.doc_id: r.c for r in mangled.select("doc_id", dedup.canonical_text("text").alias("c")).collect()}
    assert a == b


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                 max_size=30, unique=True),
    epoch=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_epoch_shuffle_partition_properties(spark, ids, epoch):
    """Any id set, any epoch: output is a bijection over the input ids,
    shard ids stay inside [0, n_shards), and per-shard positions are
    dense from 1."""
    from finance_data_pipeline_spark.extensions import sampling

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = sampling.epoch_shuffle(df, epoch=epoch, n_shards=4).collect()
    assert sorted(r.doc_id for r in out) == sorted(ids)
    assert all(0 <= r.shard < 4 for r in out)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


# --- round 5: binned cumulative weights (the KS/MW/AUC machinery) ---------

@given(
    vals=st.lists(
        st.tuples(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=40,
    ),
    bins=st.integers(min_value=2, max_value=8),
)
@settings(**SETTINGS)
def test_binned_cum_weights_matches_bruteforce(spark, vals, bins):
    """For ANY value distribution and ANY bin count, the exclusive
    cumulative equals the brute-force strictly-smaller sum — split
    quality must never reach the result (rel.binned_cum_weights'
    correctness contract)."""
    from finance_data_pipeline_spark.operators import relational as rel

    agg = {}
    for v, a in vals:
        cnt, na = agg.get(v, (0, 0))
        agg[v] = (cnt + 1, na + a)
    rows = [(v, cnt, na) for v, (cnt, na) in agg.items()]
    g = spark.createDataFrame(rows, "value double, cnt long, na long")
    out = rel.binned_cum_weights(g, "value", ["cnt", "na"], bins=bins).collect()
    assert len(out) == len(rows)
    for r in out:
        want_cnt = sum(c for v, c, _ in rows if v < r.value)
        want_na = sum(n for v, _, n in rows if v < r.value)
        assert (r.cnt_lt, r.na_lt) == (want_cnt, want_na), r
