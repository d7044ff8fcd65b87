"""Distributed sketches beyond Spark's built-ins (approx_count_distinct
is HLL; Bloom lives in operators/bloom.py): Count-Min for frequency
estimation over unbounded vocabularies.

All hashing is md5-based (the repo discipline): deterministic,
engine-neutral, oracle-replayable — no seeded murmur3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pigout_spark.pipeline.dedup import ws_tokens


def _cms_bucket(tok: Column, row: int, width: int) -> Column:
    """Row-salted md5 bucket in [0, width): the row index is the salt,
    the first 8 md5 hex chars the hash — identical arithmetic in any
    engine (DuckDB: ('0x'||substring(md5(...),1,8))::BIGINT % width)."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws("#", F.lit(str(row)), tok)), 1, 8), 16, 10)
        .cast("bigint")
        % width
    )


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build a COUNT-MIN SKETCH over the corpus token stream: a
    depth×width counter table where cell (d, b) counts tokens hashing
    to bucket b under row-d's salted hash.  Point queries
    (:func:`cms_estimate`) read min over rows — an overestimate with
    error ≤ N·e/width at confidence 1−e^−depth; the classic
    heavy-hitter / frequency primitive when the vocabulary is too big
    to count exactly.

    Output: (row, bucket, cnt) — the sketch as a relation,
    depth×width rows max (KBs), ready to store, union-merge with other
    shards' sketches (counts add — the property that makes CMS a
    distributed-aggregation native), or broadcast-join for estimates.

    100 TB: ONE explode of the token stream, ONE token-keyed groupBy
    with map-side combine, then all ``depth`` salted hashes are
    computed once per token TYPE on the vocab-sized count relation
    (r14, guide §1.2 step 2: the hashes were the per-task wall at
    depth× per OCCURRENCE; type/occurrence ratios make this ~an order
    of magnitude less hashing) — cell counts are sums of type counts,
    bit-identical to counting occurrences directly.
    """
    tok = F.explode(ws_tokens(text_col, distinct=False)).alias("__tok")
    counts = df.select(tok).groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return cms_build_from_counts(counts, "__tok", "__n", depth, width)


def cms_build_from_counts(
    counts: DataFrame,
    token_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the CMS from a pre-aggregated (token, count) relation —
    the shared tail of :func:`cms_build`, public so a pipeline that
    already holds term counts (or wants to reuse them for the query
    side, as x_cms_estimate does) skips the token-stream pass."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("row"),
                    _cms_bucket(F.col(token_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ]
        )
    ).alias("__rb")
    return (
        counts.select(rows, F.col(count_col))
        .select(
            F.col("__rb.row").alias("row"),
            F.col("__rb.bucket").alias("bucket"),
            F.col(count_col),
        )
        .groupBy("row", "bucket")
        .agg(F.sum(count_col).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    query_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each term in ``queries``: min over
    the depth rows of the counter at the term's bucket — the CMS
    estimate (≥ true count, with the standard error bound).

    The query side maps to its depth (row, bucket) probes (narrow),
    equi-joins the sketch (depth×width rows — broadcast-sized by
    construction), and takes min per term.  Terms absent from the
    corpus can still return small positive counts (CMS overestimates —
    that is the contract, documented not hidden).
    """
    probes = queries.select(
        F.col(query_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _cms_bucket(F.col(query_col), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__rb"),
    ).select(
        query_col,
        F.col("__rb.row").alias("row"),
        F.col("__rb.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(query_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# --- KMV (k-minimum-values) distinct-count sketch -------------------------
#
# Unlike HLL (whose register layout is implementation-defined, so two
# engines never agree bit-for-bit), KMV is DETERMINISTIC given the hash:
# the sketch IS the k smallest distinct hash values, and the estimator
# (k-1)/U_k is plain arithmetic — so a DuckDB oracle can replay it
# exactly.  Beyond oracle-checkability it is a real production sketch:
# Bar-Yossef et al. 2002 ("Counting distinct elements in a data
# stream"); mergeable by union-then-retake-k, which makes it a
# distributed-aggregation native like the CMS above.

#: Hash domain: first 15 md5 hex chars = 60 bits (fits BIGINT exactly;
#: 16 chars would need unsigned 64 and differ between engines).
KMV_DOMAIN = float(1 << 60)


def kmv_hash(col: Column | str) -> Column:
    """60-bit md5 hash of the value's string form.  DuckDB twin:
    ('0x' || substring(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def kmv_build(
    df: DataFrame, col: str, k: int = 1024, keys: list[str] | None = None
) -> DataFrame:
    """Build the KMV sketch of ``col``: the ``k`` smallest DISTINCT
    60-bit hashes, as a relation ``(h, k)`` (≤ k rows — KBs, ready to
    store or merge).  ``k`` rides along as a constant column — the
    sketch is self-describing, so a stored sketch can never be
    estimated or merged under a different k without failing loudly
    (ADVICE r5: an estimate call that guessed a larger k than the
    build used would take the 'exact below k' branch and report the
    sketch SIZE as the distinct count).  Nulls are excluded (COUNT
    DISTINCT semantics).

    100 TB: the distinct pre-aggregates map-side (shuffle volume is
    each task's distinct-hash set, the same partial-dedup an exact
    count-distinct pays), and the top-k is TakeOrderedAndProject —
    per-partition k-smallest in the map stage, k·P rows to the driver,
    never a global sort.  The payoff over exact counting is the
    artifact: a k-row mergeable sketch you can persist per shard/day
    and union later (:func:`kmv_merge`) instead of rescanning.

    With ``keys``, one sketch per key group (k-min via a per-key
    rank window on the distinct relation — partitioned by key, never
    a global sort); output gains the key columns.
    """
    keys = list(keys or [])
    base = df.filter(F.col(col).isNotNull()).select(
        *keys, kmv_hash(col).alias("h")
    ).distinct()
    if keys:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy("h")
        return (
            base.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(k))
            .drop("__r")
            .withColumn("k", F.lit(int(k)))
        )
    return base.orderBy("h").limit(k).withColumn("k", F.lit(int(k)))


def _assert_sketch_k(sketch: DataFrame, k: int) -> DataFrame:
    """Distributed validation that every sketch row carries ``k`` —
    assert_true returns NULL on success, so the filter keeps all valid
    rows and a mismatched sketch fails the job loudly instead of
    producing a silently wrong estimate."""
    return sketch.filter(
        F.assert_true(
            F.col("k") == F.lit(int(k)),
            F.concat(F.lit(f"KMV sketch k mismatch: expected {k}, got "), F.col("k")),
        ).isNull()
    )


def kmv_merge(
    sketches: list[DataFrame], k: int = 1024, keys: list[str] | None = None
) -> DataFrame:
    """Union shard sketches and retake the k smallest distinct hashes —
    the KMV merge (exactly the sketch of the union'd underlying sets,
    a property exact per-shard counts do NOT have).  Every input must
    carry ``k`` — merging sketches built with a different k is
    rejected at execution (see :func:`_assert_sketch_k`).  With
    ``keys``, the retake is per key group."""
    if not sketches:
        raise ValueError("kmv_merge needs at least one sketch")
    keys = list(keys or [])
    out = _assert_sketch_k(sketches[0], k)
    for s in sketches[1:]:
        out = out.unionByName(_assert_sketch_k(s, k))
    if keys:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy("h")
        return (
            out.distinct()
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(k))
            .drop("__r")
        )
    return out.distinct().orderBy("h").limit(k)


def kmv_estimate(
    sketch: DataFrame, k: int | None = None, keys: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: if the sketch holds
    fewer than k hashes the count is EXACT (every distinct value is in
    it); otherwise (k−1)/U_k with U_k = max(h)/2^60, the classic
    unbiased KMV estimator (relative error ≈ 1/√(k−2); k=1024 → ~3%).

    ``k`` comes from the sketch itself (the carried column); passing
    it explicitly only adds a loud cross-check.  A heterogeneous
    sketch (mixed k values — e.g. a bad hand-union) also fails loudly.

    Output: one row (n_hashes, est) — or one per key group with
    ``keys``.  All arithmetic is exact-integer max + one IEEE division
    chain — bit-identical across engines.
    """
    keys = list(keys or [])
    if k is not None:
        sketch = _assert_sketch_k(sketch, k)
    aggs = [
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("h").alias("__mx"),
        F.min("k").alias("__kmin"),
        F.max("k").alias("__kmax"),
    ]
    agg = (
        sketch.groupBy(*keys).agg(*aggs) if keys else sketch.agg(*aggs)
    ).filter(
        F.assert_true(
            F.col("__kmin").eqNullSafe(F.col("__kmax")),
            F.lit("KMV sketch carries mixed k values"),
        ).isNull()
    )
    kc = F.coalesce(F.col("__kmax"), F.lit(-1 if k is None else int(k)))
    return agg.select(
        *keys,
        "n_hashes",
        F.when(F.col("n_hashes") == 0, F.lit(0.0))
        .when(F.col("n_hashes") < kc, F.col("n_hashes").cast("double"))
        .otherwise(
            (kc.cast("double") - F.lit(1.0))
            / (F.col("__mx").cast("double") / F.lit(KMV_DOMAIN))
        )
        .alias("est"),
    )


# --- HLL (production path, JVM-native Datasketches) -----------------------


def hll_build(
    df: DataFrame, col: str, keys: list[str] | None = None, lg_k: int = 12
) -> DataFrame:
    """HyperLogLog sketch per key group (or one global row) via Spark's
    built-in Datasketches ``hll_sketch_agg`` — the production
    approx-distinct path when the KMV's k-row relation is still too
    chatty (an HLL sketch is a single binary cell; lg_k=12 → ~1.6%
    error in 4 KB).  Not oracle-hashable (register layout is
    engine-specific); accuracy and merge algebra are pinned by pytest
    tolerance tests instead.

    100 TB: partial aggregation — each task folds its rows into a
    local sketch, the shuffle moves one sketch per (task, group).
    """
    gb = df.groupBy(*keys) if keys else df.groupBy()
    return gb.agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias("hll"))


def hll_merge_estimate(
    sketches: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Union stored HLL sketches per key (e.g. daily shards → monthly
    distinct) and estimate: ``hll_union_agg`` + ``hll_sketch_estimate``
    — sketch-sized input, never a rescan of the data."""
    gb = sketches.groupBy(*keys) if keys else sketches.groupBy()
    merged = gb.agg(F.hll_union_agg("hll").alias("hll"))
    return merged.withColumn("est", F.hll_sketch_estimate("hll"))


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = 1024) -> DataFrame:
    """Jaccard similarity of two SETS from their stored KMV sketches
    alone (Beyer et al. 2007, "On synopses for distinct-value
    estimation"): M = the k smallest distinct hashes of the sketch
    union (which IS the KMV sketch of the underlying set union), and
    J ≈ |M ∩ A ∩ B| / |M| — the fraction of the union's k-min sample
    that both sides contain.  With |A ∪ B| < k everything is exact.

    The shard-overlap primitive: persist one KMV per shard/day/source,
    then answer "how much does corpus X overlap corpus Y" from KB-sized
    sketches with NO rescan of either corpus.  Deterministic md5 makes
    the whole chain oracle-replayable.

    Output: one row (n_merged, n_common, jaccard).  Every relation in
    the plan is ≤ k rows.  Both inputs must carry ``k`` (loud failure
    otherwise — the self-describing-sketch contract).
    """
    a_ = _assert_sketch_k(a, k).select("h")
    b_ = _assert_sketch_k(b, k).select("h")
    m = a_.unionByName(b_).distinct().orderBy("h").limit(int(k))
    common = m.join(a_, "h", "left_semi").join(b_, "h", "left_semi")
    return (
        m.agg(F.count(F.lit(1)).alias("n_merged"))
        .crossJoin(common.agg(F.count(F.lit(1)).alias("n_common")))
        .select(
            "n_merged",
            "n_common",
            (
                F.col("n_common").cast("double")
                / F.greatest(F.col("n_merged"), F.lit(1)).cast("double")
            ).alias("jaccard"),
        )
    )


# --- q-digest (deterministic mergeable quantile sketch) -------------------
#
# KMV covers distinct counts, CMS covers frequencies, HLL is the
# binary-payload production distinct path — q-digest (Shrivastava et
# al. 2004, "Medians and beyond") completes the family with QUANTILES.
# Unlike t-digest (insertion-order-dependent) and KLL (randomized),
# q-digest is a pure function of the value multiset: values live in a
# fixed dyadic tree over [0, 2^levels); compression merges (children,
# parent) triples whose combined count is below n/k, bottom-up.  Every
# step is integer arithmetic on a deterministic node set, so two
# engines — or any partitioning — produce the IDENTICAL digest, and a
# DuckDB oracle can replay build, merge, and query bit-for-bit.
# Size ≤ 3k nodes; rank error ≤ levels·⌊n/k⌋ (the classic ε = L/k).
#
# Scale: the leaf aggregation is the only corpus-sized pass (map-side
# combined, ≤ 2^levels distinct nodes through the shuffle); the
# compression then runs on a node relation BOUNDED at 2^levels rows by
# construction, so it executes as ONE Arrow batch (applyInPandas) — a
# deliberate bounded-sequential step, the same shape as the k-means
# codebook collects in similarity.py, not a data-sized single task.
# (A per-level DataFrame loop is the wrong plan here: each level
# references the node relation ~5×, so the logical plan grows 5^levels
# before analysis.)  Merging shard digests is node-wise count addition
# + one recompress — the distributed-aggregation-native property, same
# as CMS/KMV.


def _qdigest_compress_multiset(counts: dict[int, int], k: int, levels: int) -> list[tuple[int, int]]:
    """Pure-integer bottom-up q-digest compression of {nid: cnt}.
    Shared by the Spark path (inside applyInPandas) and tests; the
    DuckDB oracle replays the identical rule as an unrolled CTE chain."""
    n = sum(counts.values())
    t = max(1, n // k)
    for lev in range(levels, 0, -1):
        lo, hi = 1 << lev, 1 << (lev + 1)
        child_sums: dict[int, int] = {}
        for node, c in counts.items():
            if lo <= node < hi:
                child_sums[node >> 1] = child_sums.get(node >> 1, 0) + c
        for pid, csum in child_sums.items():
            total = csum + counts.get(pid, 0)
            if total < t:
                counts.pop(2 * pid, None)
                counts.pop(2 * pid + 1, None)
                counts[pid] = total
    return sorted(counts.items())


def _check_qdigest_params(k: int, levels: int) -> None:
    if not 2 <= int(k):
        raise ValueError(f"qdigest k must be >= 2, got {k}")
    if not 1 <= int(levels) <= 24:
        # 2^24 leaf nodes is the practical ceiling for one compression
        # batch (the node relation must fit a single Arrow batch per
        # key group); wider universes should pre-scale the values.
        raise ValueError(f"qdigest levels must be in [1, 24], got {levels}")


def _qdigest_compress(
    nodes: DataFrame, k: int, levels: int, keys: list[str] | None = None
) -> DataFrame:
    """Compress a (keys…, nid, cnt) node relation into its q-digest.
    Each group's input is ≤ 2^levels rows (leaf-aggregated), so a
    group's whole multiset fits one Arrow batch; the compression is a
    pure function of it.  With ``keys``, groups compress in parallel —
    the per-key percentile-rollup path."""
    import pandas as pd

    keys = list(keys or [])

    def compress(pdf: "pd.DataFrame") -> "pd.DataFrame":
        counts = dict(zip(pdf["nid"].astype("int64"), pdf["cnt"].astype("int64")))
        out = pd.DataFrame(
            _qdigest_compress_multiset(counts, k, levels), columns=["nid", "cnt"]
        ).astype("int64")
        for c in keys:
            out[c] = pdf[c].iloc[0]
        return out[keys + ["nid", "cnt"]]

    if keys:
        key_schema = ", ".join(
            f"{n} {nodes.schema[n].dataType.simpleString()}" for n in keys
        )
        return nodes.groupBy(*keys).applyInPandas(
            compress, f"{key_schema}, nid bigint, cnt bigint"
        )
    return nodes.groupBy(F.lit(0).alias("__g")).applyInPandas(
        compress, "nid bigint, cnt bigint"
    )


def qdigest_build(
    df: DataFrame,
    col: str,
    k: int = 64,
    levels: int = 12,
    keys: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the q-digest of an integer column with values in
    ``[0, 2**levels)`` (pre-scale floats upstream — deterministically,
    e.g. fixed-point cents).  Values outside the universe fail loudly
    (distributed assert); NULLs are excluded.  With ``keys``, one
    digest per key group (per-key percentiles — the rollup-maintenance
    shape: digests merge, so incremental refresh never rescans).
    With ``weight_col`` (positive integers — asserted), each row
    counts with its weight: identical to replicating the row, so e.g.
    token-weighted length percentiles cost no extra rows.

    Output: (keys…, nid, cnt, k, levels) — ≤ 3k rows per group,
    self-describing (the KMV r6 discipline: parameters ride with the
    sketch and are validated at query/merge time, never trusted to the
    caller).
    """
    _check_qdigest_params(k, levels)
    keys = list(keys or [])
    cap = 1 << levels
    v = F.col(col).cast("bigint")
    src = df.filter(v.isNotNull()).filter(
        F.assert_true(
            (v >= 0) & (v < cap),
            F.concat(F.lit(f"qdigest value outside [0, {cap}): "), v),
        ).isNull()
    )
    if weight_col is not None:
        w = F.col(weight_col).cast("bigint")
        src = src.filter(
            F.assert_true(
                w.isNotNull() & (w > 0),
                F.concat(F.lit("qdigest weight must be a positive integer: "), w),
            ).isNull()
        )
        agg = F.sum(F.col(weight_col).cast("bigint")).alias("cnt")
    else:
        agg = F.count(F.lit(1)).alias("cnt")
    nodes = (
        src.select(*keys, (F.lit(cap) + v).alias("nid"), *(
            [weight_col] if weight_col is not None else []
        ))
        .groupBy(*keys, "nid")
        .agg(agg)
    )
    out = _qdigest_compress(nodes, int(k), int(levels), keys)
    return out.withColumn("k", F.lit(int(k))).withColumn(
        "levels", F.lit(int(levels))
    )


def _assert_qdigest_params(
    digest: DataFrame, k: int, levels: int, keys: list[str] | None = None
) -> DataFrame:
    # node ids are heap-numbered from the root (nid 1); the quantile
    # walk's right-endpoint arithmetic is defined only for nid >= 1
    return digest.filter(
        F.assert_true(
            (F.col("k") == F.lit(int(k)))
            & (F.col("levels") == F.lit(int(levels))),
            F.lit(f"qdigest parameter mismatch: expected k={k}, levels={levels}"),
        ).isNull()
        & F.assert_true(
            F.col("nid") >= 1, F.lit("malformed qdigest: node id below 1")
        ).isNull()
    ).select(*(keys or []), "nid", "cnt")


def qdigest_merge(
    digests: list[DataFrame],
    k: int = 64,
    levels: int = 12,
    keys: list[str] | None = None,
) -> DataFrame:
    """Merge shard q-digests: node-wise count addition, then one
    recompress under the COMBINED n — the digest of the union'd
    multiset under the same rule.  Inputs must carry matching (k,
    levels) (loud failure otherwise)."""
    if not digests:
        raise ValueError("qdigest_merge needs at least one digest")
    _check_qdigest_params(k, levels)
    keys = list(keys or [])
    out = _assert_qdigest_params(digests[0], k, levels, keys)
    for d in digests[1:]:
        out = out.unionByName(_assert_qdigest_params(d, k, levels, keys))
    nodes = out.groupBy(*keys, "nid").agg(F.sum("cnt").alias("cnt"))
    out = _qdigest_compress(nodes, int(k), int(levels), keys)
    return out.withColumn("k", F.lit(int(k))).withColumn(
        "levels", F.lit(int(levels))
    )


def qdigest_quantiles(
    digest: DataFrame,
    qs: list[float],
    k: int = 64,
    levels: int = 12,
    keys: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a q-digest: nodes ordered by (range
    right-endpoint, nid), counts accumulated until rank ⌈q·n⌉; the
    answering node's right endpoint is the estimate (true quantile is
    ≤ levels·⌊n/k⌋ ranks away).  Output: (keys…, q, est) per requested
    q per key group.

    The rank walk runs over the DIGEST as ONE in-task JVM
    ``aggregate`` fold per group (≤ 3k nodes collected into a sorted
    array — bounded by the digest's own compression contract, never
    data-sized): one map-side-combined groupBy replaces the old
    per-quantile window scans, all requested quantiles read from the
    same fold, and no WindowExec (keyless or otherwise) appears in the
    plan (r13 — this was the bench tail's "No Partition Defined"
    warning source, 108 warnings per run, all over a 192-row
    relation).  An empty digest yields (q, NULL) per requested q in
    global mode and no rows in keyed mode.
    """
    keys = list(keys or [])
    cap = 1 << int(levels)
    d = _assert_qdigest_params(digest, k, levels, keys)
    # right endpoint in value space: node at level ℓ covers
    # 2^(levels-ℓ) leaves ending at (nid+1)·2^(levels-ℓ)−1−cap, with
    # ℓ = floor(log2(nid)) = length(bin(nid))−1 — EXACT integer
    # arithmetic (bin() is a string length, never a float log).
    # r15 (VERDICT r14 #7, guide §4 — driver-side Python is still
    # Python): this and the folds below used to be built as a
    # (levels+1)-deep ``F.when`` chain plus one nested two-lambda
    # ``F.aggregate`` PER QUANTILE — hundreds of py4j round trips,
    # ~1.5 s of pure plan-construction wall per fresh plan.  The same
    # expressions as SQL strings parse JVM-side in one call each;
    # value-identical (same integer ops, same double ⌈q·n⌉ targets, so
    # the oracle hash is unchanged — selfcheck-pinned).
    d = d.withColumn(
        "__rend",
        F.expr(f"(nid + 1) * shiftright({cap}, length(bin(nid)) - 1) - 1 - {cap}"),
    )
    # (__rend, nid) is unique per group, so lexicographic sort_array
    # over struct(__rend, nid, cnt) IS the old orderBy(__rend, nid)
    arr = d.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct("__rend", "nid", "cnt"))
        ).alias("__nodes")
    )
    arr = arr.withColumn(
        "__n",
        F.expr("aggregate(__nodes, cast(0 as bigint), (acc, x) -> acc + x.cnt)"),
    )
    # per requested q: fold to the first right endpoint whose
    # cumulative count ≥ ⌈q·n⌉ (the ``D`` suffix keeps the literal a
    # DOUBLE — a bare SQL decimal literal would change ⌈q·n⌉ rounding)
    ests = ", ".join(
        f"""named_struct('q', {float(q)!r}D, 'est', aggregate(
          __nodes,
          named_struct('cum', cast(0 as bigint), 'est', cast(null as bigint)),
          (acc, x) -> named_struct(
            'cum', acc.cum + x.cnt,
            'est', case when acc.est is not null then acc.est
                        when acc.cum + x.cnt >= cast(ceil({float(q)!r}D * __n) as bigint)
                             then x.__rend
                        else cast(null as bigint) end),
          acc -> acc.est))"""
        for q in qs
    )
    return arr.select(
        *keys, F.expr(f"explode(array({ests}))").alias("__qe")
    ).select(*keys, F.col("__qe.q").alias("q"), F.col("__qe.est").alias("est"))
