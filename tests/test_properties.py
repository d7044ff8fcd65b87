"""Property-based checks (hypothesis) for the Pig index-convention shims
— SURVEY.md §7-H4 flags these off-by-ones as the likeliest silent-wrong-
answer source, so they get randomized verification against the Java/Pig
reference semantics (Python slicing/find match Java here).

hypothesis draws one batch per test (max_examples=1 with a list
strategy) so the Spark round-trips stay bounded.
"""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from pigout_spark.functions.strings import INDEXOF, LAST_INDEX_OF, SUBSTRING, TOKENIZE

_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=12,
)


def _one(spark, s: str, *cols):
    return spark.createDataFrame([(s,)], "s string").select(*cols).first()


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(_text, st.integers(0, 5), st.integers(0, 8)),
        min_size=25,
        max_size=25,
    )
)
def test_substring_matches_java_semantics(spark, cases):
    for s, a, b in cases:
        if not (a <= b <= len(s)):
            continue  # Pig/Java raises out-of-range; we document clamping
        got = _one(spark, s, SUBSTRING("s", a, b).alias("o")).o
        assert (got or "") == s[a:b], (s, a, b, got)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(_text, _text.filter(lambda n: 1 <= len(n) <= 3)),
        min_size=15,
        max_size=15,
    )
)
def test_indexof_matches_python_find(spark, cases):
    for s, n in cases:
        r = _one(
            spark, s, INDEXOF("s", n).alias("i"), LAST_INDEX_OF("s", n).alias("li")
        )
        assert r.i == s.find(n), (s, n, r.i)
        assert r.li == s.rfind(n), (s, n, r.li)


@settings(max_examples=1, deadline=None)
@given(st.lists(_text, min_size=8, max_size=8))
def test_tokenize_matches_stringtokenizer(spark, words):
    s = " ".join(words) + ',extra(paren)"quoted"*star'
    got = _one(spark, s, TOKENIZE("s").alias("t")).t
    want = [t for t in re.split(r'[ ",()*]', s) if t]
    assert got == want


def test_fuzz_oracle_sample(spark):
    """A small seed of the randomized differential fuzz (tools/
    fuzz_oracle.py runs the full sweep): random scan→filter→group→agg
    plans must hash-match DuckDB."""
    import random

    import duckdb

    from tools.fuzz_oracle import TABLES, gen_query
    from tools.selfcheck import value_hash

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rng = random.Random(1234)
    for _ in range(8):
        build, sql = gen_query(rng)
        spdf = build(spark, sf_dir).toPandas()
        opdf = con.execute(sql).df()
        assert len(spdf) == len(opdf), sql
        assert value_hash(spdf) == value_hash(opdf), sql


# cc_branch sets one conf for the whole test, so it holds for every example
@settings(
    max_examples=1,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_dedup_clusters_matches_union_find(spark, cc_branch, edges):
    """Connected components, on the driver and in the round loop
    (pointer-jumping label propagation), must equal a reference
    union-find on random edge lists — including self-loops, duplicate
    and reversed edges."""
    from pigout_spark.pipeline.dedup import dedup_clusters

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == want


@settings(max_examples=1, deadline=None)
@given(
    st.lists(  # (doc bucket, chunk token counts) — skewed doc sizes
        st.lists(st.integers(1, 130), min_size=1, max_size=12),
        min_size=1,
        max_size=10,
    ),
    st.integers(64, 128),
)
def test_pack_sequences_invariants_random(spark, docs_chunks, budget):
    """Randomized packing invariants: every chunk assigned exactly once,
    per-sequence totals never exceed the budget unless the sequence is
    an oversized singleton, sequence ids are dense 0..max per doc, and
    the assignment equals the sequential next-fit reference."""
    from pigout_spark.pipeline.text import pack_sequences

    rows = [
        (f"d{di}", ci, n)
        for di, chunks in enumerate(docs_chunks)
        for ci, n in enumerate(chunks)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "chunk_idx", "n_chunk_tokens"]
    ).repartition(4)
    got = pack_sequences(df, budget).collect()
    assert len(got) == len(rows)
    by_doc: dict = {}
    for r in sorted(got, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append((r.n_chunk_tokens, r.seq_idx))
    for di, chunks in enumerate(docs_chunks):
        pairs = by_doc[f"d{di}"]
        assert [n for n, _ in pairs] == chunks
        # reference next-fit
        fill, seq, want = budget + 1, -1, []
        for n in chunks:
            if fill + n <= budget:
                fill += n
            else:
                fill, seq = n, seq + 1
            want.append(seq)
        assert [s for _, s in pairs] == want
        # budget / singleton invariant + dense ids
        totals: dict = {}
        counts: dict = {}
        for n, s in pairs:
            totals[s] = totals.get(s, 0) + n
            counts[s] = counts.get(s, 0) + 1
        assert sorted(totals) == list(range(len(totals)))
        for s, tot in totals.items():
            assert tot <= budget or counts[s] == 1


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(1, 40), min_size=1, max_size=12),
        min_size=4,
        max_size=8,
    )
)
def test_pack_sequences_invariants(spark, docs):
    """Next-fit packing invariants on random chunk-size profiles: every
    chunk appears exactly once with its original size, multi-chunk
    sequences never exceed the budget, sequence ids are contiguous from
    0, and chunk order within a doc is preserved."""
    from pigout_spark.pipeline.text import pack_sequences

    budget = 48
    rows = [
        (d, i, n)
        for d, sizes in enumerate(docs)
        for i, n in enumerate(sizes)
    ]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx long, n_chunk_tokens long"
    )
    out = pack_sequences(chunks, budget).collect()
    assert sorted((r.doc_id, r.chunk_idx, r.n_chunk_tokens) for r in out) == sorted(rows)
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        # seq ids start at 0, non-decreasing, step ≤ 1
        seqs = [r.seq_idx for r in rs]
        assert seqs[0] == 0
        assert all(0 <= b - a <= 1 for a, b in zip(seqs, seqs[1:]))
        # multi-chunk sequences within budget
        totals: dict[int, list] = {}
        for r in rs:
            totals.setdefault(r.seq_idx, []).append(r.n_chunk_tokens)
        for ns in totals.values():
            if len(ns) > 1:
                assert sum(ns) <= budget


@settings(max_examples=1, deadline=None)
@given(
    st.lists(st.integers(0, 10**9), min_size=10, max_size=30, unique=True),
    st.lists(st.floats(0.05, 1.0), min_size=2, max_size=4),
)
def test_split_corpus_partitions_exhaustively(spark, ids, ws):
    """Random weights: every row gets exactly one label from the weight
    dict, labels are stable across invocations, and each label's rows
    are disjoint (trivially — one column) and exhaustive."""
    from pigout_spark.pipeline.curation import split_corpus

    weights = {f"s{i}": w for i, w in enumerate(ws)}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = split_corpus(df, weights, ["doc_id"], seed="p")
    rows = out.collect()
    assert len(rows) == len(ids)
    assert all(r.split in weights for r in rows)
    again = {r.doc_id: r.split for r in split_corpus(df, weights, ["doc_id"], seed="p").collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=3,
        max_size=10,
    )
)
def test_bpe_roundtrip_concatenation(spark, words):
    """Tokenizer soundness: for any corpus and any trained merge count,
    concatenating a word's BPE tokens reproduces the word exactly."""
    from pigout_spark.pipeline.text import (
        bpe_apply_merges,
        bpe_train,
    )

    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    merges = bpe_train(df, 4)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        assert "".join(bpe_apply_merges(w, ranks)) == w


# --- behavioral invariants (late r5) ---------------------------------------

_event_batches = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # key
        st.integers(min_value=0, max_value=5000),   # offset seconds
        st.sampled_from(["a", "b", "c"]),           # type
    ),
    min_size=1,
    max_size=60,
)


def _edf(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), t, 1.0) for k, s, t in rows],
        "user_id bigint, ts timestamp, event_type string, value double",
    )


@settings(max_examples=1, deadline=None)
@given(_event_batches, st.sampled_from([60, 600, 1800]))
def test_sessionize_invariants(spark, rows, gap):
    """(1) sessions partition the events (counts conserve); (2) within
    a session consecutive gaps are <= gap; (3) across consecutive
    sessions of a key the boundary gap is > gap; (4) session_seq is
    dense from 1."""
    from pigout_spark.pipeline.behavioral import sessionize

    out = sessionize(_edf(spark, rows), gap_seconds=gap).collect()
    assert len(out) == len(rows)
    by_key = {}
    for r in out:
        by_key.setdefault(r.user_id, []).append((r.ts, r.session_seq))
    for k, evs in by_key.items():
        evs.sort()
        seqs = sorted({s for _, s in evs})
        assert seqs == list(range(1, len(seqs) + 1))
        for (t1, s1), (t2, s2) in zip(evs, evs[1:]):
            d = (t2 - t1).total_seconds()
            if s1 == s2:
                assert d <= gap
            else:
                assert s2 == s1 + 1 and d > gap


@settings(max_examples=1, deadline=None)
@given(_event_batches)
def test_funnel_invariants(spark, rows):
    """Step timestamps strictly increase while present, and the stage
    equals the number of non-null steps (progression is prefix-closed)."""
    from pigout_spark.pipeline.behavioral import funnel_steps

    out = funnel_steps(_edf(spark, rows), ["a", "b", "c"]).collect()
    for r in out:
        steps = [r.step_1_ts, r.step_2_ts, r.step_3_ts]
        present = [s for s in steps if s is not None]
        # prefix-closed: no null before a non-null
        assert steps[: len(present)] == present
        assert r.funnel_stage == len(present)
        for x, y in zip(present, present[1:]):
            assert x < y


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_histogram_conservation(spark, values, nbins):
    from pigout_spark.pipeline.behavioral import histogram

    df = spark.createDataFrame([(v,) for v in values], "v double")
    out = histogram(df, "v", nbins, -100.0, 100.0).collect()
    assert sum(r.cnt for r in out) == len(values)
    assert all(0 <= r.bin < nbins for r in out)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=1, max_size=400),
    st.integers(4, 32),
)
def test_qdigest_compression_invariants(values, k):
    """Pure-integer q-digest compression (no Spark — the same function
    the Arrow batch runs): counts conserve, size stays ≤ 3k, every
    surviving non-root family is un-mergeable (children+parent ≥
    ⌊n/k⌋ at its level's pass), and the quantile readout rule lands
    within levels·⌊n/k⌋ ranks of the true quantile."""
    import math
    from collections import Counter

    from pigout_spark.pipeline.sketches import _qdigest_compress_multiset

    levels = 8
    cap = 1 << levels
    counts = {cap + v: c for v, c in Counter(values).items()}
    n = len(values)
    t = max(1, n // k)
    digest = dict(_qdigest_compress_multiset(dict(counts), k, levels))

    assert sum(digest.values()) == n
    assert len(digest) <= 3 * k
    # input-order independence: the compression is a pure function of
    # the multiset, whatever order the node dict arrives in
    rev = dict(sorted(counts.items(), reverse=True))
    assert dict(_qdigest_compress_multiset(rev, k, levels)) == digest

    # quantile rule: order by (right endpoint, nid), accumulate
    def rend(nid):
        lev = nid.bit_length() - 1
        width = cap >> lev
        return (nid + 1) * width - 1 - cap

    ordered = sorted(digest.items(), key=lambda it: (rend(it[0]), it[0]))
    sv = sorted(values)
    for q in (0.1, 0.5, 0.9):
        target = math.ceil(q * n)
        cum = 0
        est = None
        for nid, c in ordered:
            cum += c
            if cum >= target:
                est = rend(nid)
                break
        true_rank = target - 1
        import bisect

        got_rank = bisect.bisect_right(sv, est)
        assert abs(got_rank - target) <= levels * t


@settings(max_examples=2, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=7),
        min_size=12,
        max_size=20,
    ),
    st.integers(1, 2),
)
def test_edit_distance_join_matches_naive_randomized(spark, strings, k):
    """EDJoin prefix filtering over a tiny alphabet (maximally shared
    q-grams + many low-gram strings — the hardest regime for the
    filter-correctness argument) must equal the naive DP answer."""
    from pigout_spark.operators.joins import edit_distance_join

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = list(enumerate(strings))
    df = spark.createDataFrame(rows, "id bigint, s string")
    got = {
        (r[0], r[1], r.dist)
        for r in edit_distance_join(
            df, df, k=k, right_id="id"
        ).collect()
    }
    want = {
        (i, j, lev(a, b))
        for i, a in rows
        for j, b in rows
        if lev(a, b) <= k
    }
    assert got == want, sorted(got ^ want)[:10]


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                       # key
            st.one_of(st.none(), st.integers(-9, 9)),  # value
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([(0.1, 0.9), (0.25, 0.75), (0.0, 1.0)]),
)
def test_winsorize_idempotent_and_bounded(spark, rows, ps):
    """Winsorizing a winsorized column is a no-op (clamping to the
    same order statistics cannot move already-clamped values for
    p_lo ≤ 0.5 ≤ p_hi), and outputs stay within each key's non-NULL
    min/max."""
    from pigout_spark.operators.sorting import winsorize

    p_lo, p_hi = ps
    df = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in rows],
        "k long, value double",
    )
    once = winsorize(df, "value", ["k"], p_lo=p_lo, p_hi=p_hi)
    again = winsorize(
        once.select("k", F.col("value_w").alias("value")),
        "value", ["k"], p_lo=p_lo, p_hi=p_hi,
    )
    w1 = sorted((r.k, r.value_w) for r in once.collect()
                if r.value_w is not None)
    w2 = sorted((r.k, r.value_w) for r in again.collect()
                if r.value_w is not None)
    assert w1 == w2
    lohi = {}
    for k, v in rows:
        if v is not None:
            lo, hi = lohi.get(k, (v, v))
            lohi[k] = (min(lo, v), max(hi, v))
    for k, w in w1:
        assert lohi[k][0] <= w <= lohi[k][1]


@settings(max_examples=3, deadline=None)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=40, unique=True),
    st.integers(2, 7),
)
def test_quantile_bucket_partition_property(spark, ids, k):
    """Buckets are contiguous in value order, sizes differ by at most
    one, and larger buckets come first (ntile's contract)."""
    from pigout_spark.operators.sorting import quantile_bucket

    df = spark.createDataFrame(
        [(i, float(i * 13 % 31)) for i in ids], "id long, v double"
    )
    rows = sorted(
        quantile_bucket(df, "v", k, id_cols=["id"]).collect(),
        key=lambda r: (r.v, r.id),
    )
    seq = [r.bucket for r in rows]
    assert seq == sorted(seq)  # contiguous in order
    from collections import Counter
    sizes = Counter(seq)
    vals = [sizes[b] for b in sorted(sizes)]
    assert max(vals) - min(vals) <= 1
    assert vals == sorted(vals, reverse=True)


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 6),            # key
            st.sampled_from(["I", "U", "D"]),
            st.integers(1, 30),           # ts
        ),
        min_size=1,
        max_size=25,
    )
)
def test_apply_cdc_idempotent_on_compacted_log(spark, ch):
    """Applying a compacted changelog twice equals applying it once
    (MERGE is idempotent on its own output for a fixed log)."""
    from pigout_spark.pipeline.scd import apply_cdc, compact_changelog

    # dedupe (k, ts) pairs to satisfy the winner-ambiguity guard
    seen, rows = set(), []
    for i, (k, op, ts) in enumerate(ch):
        if (k, ts) in seen:
            continue
        seen.add((k, ts))
        rows.append((k, f"v{i}", op, ts))
    base = spark.createDataFrame(
        [(k, "base") for k in range(7)], "k long, v string"
    )
    changes = spark.createDataFrame(
        rows, "k long, v string, op string, ts long"
    )
    once = apply_cdc(base, changes, ["k"])
    twice = apply_cdc(once, changes, ["k"])
    assert sorted((r.k, r.v) for r in once.collect()) == sorted(
        (r.k, r.v) for r in twice.collect()
    )


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 6), st.integers(0, 6)),
        min_size=6,
        max_size=40,
    )
)
def test_spearman_properties(spark, rows):
    """Invariance laws: rho is unchanged by any strictly monotone
    transform of either side (rank-based), and rho(x, x) == 1 whenever
    x varies within the key."""
    from pigout_spark.pipeline.behavioral import spearman_corr

    data = [(k, float(x), float(y)) for k, x, y in rows]
    df = spark.createDataFrame(data, "k long, x double, y double")
    base = {
        r.k: r.rho6 for r in spearman_corr(df, ["k"], "x", "y").collect()
    }
    # strictly monotone transforms: x -> 3x+1, y -> y^3 (ints >= 0)
    tdf = spark.createDataFrame(
        [(k, 3.0 * x + 1.0, y ** 3) for k, x, y in data],
        "k long, x double, y double",
    )
    trans = {
        r.k: r.rho6 for r in spearman_corr(tdf, ["k"], "x", "y").collect()
    }
    assert base == trans
    self_rho = {
        r.k: r.rho6
        for r in spearman_corr(
            df.withColumn("y", F.col("x")), ["k"], "x", "y"
        ).collect()
    }
    for k, rho in self_rho.items():
        xs = {x for kk, x, _ in data if kk == k}
        assert (rho == 1.0) if len(xs) > 1 else (rho is None)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=30),
)
def test_bh_fdr_properties(spark, ps_raw):
    """BH laws: q >= p everywhere, q is monotone in p (sorted by p the
    q sequence is non-decreasing), q <= 1, and the largest p has
    q == min(1, p) when it is the max rank."""
    from pigout_spark.pipeline.behavioral import bh_fdr

    rows = [(i, p / 100.0) for i, p in enumerate(ps_raw)]
    df = spark.createDataFrame(rows, "id long, p double")
    got = bh_fdr(df, "p").collect()
    by_p = sorted(got, key=lambda r: (r.p, r.id))
    assert all(r.q6 <= 1.0 for r in got)
    assert all(r.q6 >= round(r.p, 6) or abs(r.q6 - r.p) < 1e-9 for r in got)
    qs = [r.q6 for r in by_p]
    assert all(a <= b + 1e-9 for a, b in zip(qs, qs[1:]))
    assert qs[-1] == round(min(1.0, by_p[-1].p), 6)


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 50)),
        min_size=5,
        max_size=40,
    )
)
def test_robust_scale_equivariance(spark, rows):
    """Shift/scale equivariance: scaling x -> a·x + b (a > 0) leaves
    the robustly-scaled value unchanged (median and IQR transform
    together)."""
    from pigout_spark.pipeline.features import robust_scale

    data = [(k, float(v)) for k, v in rows]
    df = spark.createDataFrame(data, "g long, v double")
    base = {
        (r.g, r.v): r.value_rs
        for r in robust_scale(df, "v", ["g"]).collect()
    }
    a, b = 2.5, -7.0
    tdf = spark.createDataFrame(
        [(k, a * v + b) for k, v in data], "g long, v double"
    )
    trans = {
        (r.g, round((r.v - b) / a, 9)): r.value_rs
        for r in robust_scale(tdf, "v", ["g"]).collect()
    }
    for (g, v), rs in base.items():
        tv = trans[(g, round(v, 9))]
        if rs is None:
            assert tv is None
        else:
            assert abs(tv - rs) <= 2e-6  # two ROUND-6 boundaries


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.tuples(st.booleans(), st.integers(0, 8)),
        min_size=2,
        max_size=40,
    )
)
def test_roc_auc_properties(spark, rows):
    """AUC laws: complement symmetry auc(y, s) == 1 − auc(¬y, s)
    (equivalently label flip), bounded in [0, 1], and invariant under
    strictly monotone score transforms."""
    from pigout_spark.pipeline.evaluation import roc_auc

    data = [(y, float(s)) for y, s in rows]
    df = spark.createDataFrame(data, "y boolean, s double")
    a = roc_auc(df, "y", "s").first()
    flipped = roc_auc(
        df.withColumn("y", ~F.col("y")), "y", "s"
    ).first()
    if a.auc6 is None:
        assert a.n_pos == 0 or a.n_neg == 0
    else:
        assert 0.0 <= a.auc6 <= 1.0
        assert abs(a.auc6 + flipped.auc6 - 1.0) <= 2e-6
        mono = roc_auc(
            df.withColumn("s", F.col("s") * 10 + 3), "y", "s"
        ).first()
        assert mono.auc6 == a.auc6


def test_token_entropy_properties(spark):
    """Entropy invariants: a uniform k-token doc reads ln(k) exactly
    (ROUND-6); repeating the same tokens leaves entropy unchanged
    (scale-free in multiplicity proportions); permuting tokens is a
    no-op; entropy is bounded by ln(n_distinct)."""
    import math

    from pigout_spark.pipeline.text import token_entropy

    k = 7
    uni = " ".join(f"w{i}" for i in range(k))
    df = spark.createDataFrame(
        [
            (1, uni),
            (2, " ".join([uni] * 3)),          # same proportions ×3
            (3, " ".join(reversed(uni.split()))),  # permutation
            (4, "a a a b"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in token_entropy(df).collect()}
    expected_uniform = round(k * round(-(1 / k) * math.log(1 / k), 6), 6)
    assert abs(got[1].entropy6 - expected_uniform) <= 1e-9
    assert got[2].entropy6 == got[1].entropy6
    assert got[3].entropy6 == got[1].entropy6
    assert got[4].entropy6 <= math.log(got[4].n_distinct) + 1e-9


def test_zipf_fit_scale_invariance(spark):
    """Duplicating the corpus doubles every frequency: the Zipf slope
    and r² are invariant (ln-shift of y), the intercept moves by
    exactly +ln 2 at ROUND-6 resolution."""
    import math

    from pigout_spark.pipeline.text import zipf_fit

    base = [(i, "alpha " * (20 - i) + "beta gamma") for i in range(10)]
    df = spark.createDataFrame(base, "doc_id long, text string")
    df2 = df.unionByName(
        spark.createDataFrame(
            [(100 + i, t) for i, t in base], "doc_id long, text string"
        )
    )
    a, b = zipf_fit(df).first(), zipf_fit(df2).first()
    assert a.n_terms == b.n_terms
    # micro-unit rounding of each ln term leaves ~1e-6-scale residue
    assert abs(a.slope6 - b.slope6) <= 5e-5
    assert abs((b.intercept6 - a.intercept6) - math.log(2.0)) <= 5e-5
    assert abs(a.r2_6 - b.r2_6) <= 5e-5


def test_rrf_fuse_properties(spark):
    """RRF invariants: fusing a list with itself doubles every score;
    list order does not matter; a doc ranked 1 in both lists dominates
    any doc ranked 1 in only one."""
    from pigout_spark.pipeline.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(10, 1), (40, 2)], "doc_id long, rank long"
    )
    twice = {r.doc_id: r.rrf6 for r in rrf_fuse([a, a]).collect()}
    once = {r.doc_id: r.rrf6 for r in rrf_fuse([a]).collect()}
    assert all(abs(twice[d] - 2 * once[d]) <= 1e-9 for d in once)
    ab = {r.doc_id: r.rrf6 for r in rrf_fuse([a, b]).collect()}
    ba = {r.doc_id: r.rrf6 for r in rrf_fuse([b, a]).collect()}
    assert ab == ba
    assert ab[10] > max(v for d, v in ab.items() if d != 10)


def test_msprt_properties(spark):
    """mSPRT invariants: under a null (identical arms) the always-valid
    p stays high; under a strong constant effect it decays toward 0;
    p is non-increasing along every trajectory."""
    from pigout_spark.pipeline.behavioral import msprt

    null_rows = [
        (t, arm, 100 + (t % 3)) for t in range(1, 21) for arm in (True, False)
    ]
    strong = [
        (t, True, 200) for t in range(1, 21)
    ] + [(t, False, 100) for t in range(1, 21)] + [
        (t, True, 201) for t in range(1, 21)
    ] + [(t, False, 99) for t in range(1, 21)]
    for rows, check in (
        (null_rows, lambda tr: tr[-1] > 0.2),
        (strong, lambda tr: tr[-1] < 0.05),
    ):
        df = spark.createDataFrame(rows, "t long, arm boolean, v long")
        out = sorted(
            msprt(df, "t", "arm", "v", tau2=400.0).collect(),
            key=lambda r: r.t,
        )
        traj = [r.p_av6 for r in out if r.p_av6 is not None]
        assert all(x >= y for x, y in zip(traj, traj[1:]))  # non-increasing
        assert check(traj), traj[-5:]


#: ties, their neighbours, the largest fractional doubles, signed zeros,
#: subnormals and the non-finite values
_ROUND_EDGES = [
    0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
    0.49999999999999994, -0.49999999999999994,
    math.nextafter(0.5, 1.0), math.nextafter(-2.5, 0.0),
    2.0**52 - 0.5, -(2.0**52 - 0.5), 2.0**52, 2.0**53 + 2.0,
    5e-324, -5e-324, 2.2250738585072014e-308, 1e300, -1e300, -0.3,
    math.nan, math.inf, -math.inf, None,
]


@settings(max_examples=1, deadline=None)
@given(
    st.lists(st.floats(width=64), min_size=200, max_size=200),
    st.lists(st.integers(-(2**40), 2**40), min_size=100, max_size=100),
)
def test_round_half_up_matches_spark_round(spark, drawn, whole):
    """The rint-based kernel, as a Column and as SQL text, equals
    ``round(x, 0)`` bit for bit (the sign of zero included)."""
    import struct

    from pigout_spark.functions.math_fns import ROUND_HALF_UP_SQL, round_half_up

    ties = [w + h for w in whole for h in (0.5, -0.5)]
    ties += [math.nextafter(t, d) for t in ties[:50] for d in (-math.inf, math.inf)]
    xs = _ROUND_EDGES + drawn + ties
    rows = (
        spark.createDataFrame([(x,) for x in xs], "x double")
        .select(
            "x",
            F.round("x", 0).alias("want"),
            round_half_up(F.col("x")).alias("col"),
            F.expr(ROUND_HALF_UP_SQL("x")).alias("sql"),
        )
        .collect()
    )

    def bits(v):
        if v is None or math.isnan(v):
            return repr(v)
        return struct.pack("<d", v)

    bad = [r for r in rows if not (bits(r.want) == bits(r.col) == bits(r.sql))]
    assert len(rows) == len(xs) and not bad, bad[:5]
