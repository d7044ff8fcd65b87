"""Graph analytics on edge relations.

- ranking: :func:`pagerank` (plain, weighted and personalized) and
  :func:`hits` (hubs and authorities);
- triangles: :func:`triangle_count` (exact), :func:`triangle_count_sampled`
  (DOULION estimate) and :func:`clustering_coefficient`;
- structure: :func:`k_core` (peeling) and :func:`label_propagation`
  (communities);
- link prediction: :func:`common_neighbors`;
- distance: :func:`bfs_distances` (hops) and :func:`shortest_paths`
  (weighted Bellman-Ford).

Connected components live in pipeline/dedup.py:dedup_clusters.  The
iterative ones run their rounds through pipeline/iterate.py:fixpoint,
which owns the checkpoint cadence and the job labels.

Determinism contract (oracle-hash discipline): ranks are FIXED-POINT
int64 "picorank" units (10^-12).  Every step is integer arithmetic —
floor division by out-degree, damping as the rational 85/100, the
teleport term 0.15·10^12 DIV N — so any engine reproduces the result
bit-for-bit with no FP-reduction-order or decimal-conversion concerns
(the first draft's DECIMAL(38,18)↔DOUBLE round-trips differed from
DuckDB by 1 ULP — fuzz-caught).  Cost: each floor division drops up to
one unit (10^-12) of rank mass; bounded and documented, invisible at
any practical tolerance.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pigout_spark.pipeline.iterate import checkpoint, fixpoint

#: fixed-point scale: 1 rank = 10^12 units (int64-safe: total mass
#: ≤ 10^13 units; the damping multiply peaks at 85·10^12 « 2^63)
PAGERANK_UNIT = 10**12


def _checked_weights(df: DataFrame, col: str, what: str, headroom: str) -> DataFrame:
    """``df`` failing loudly unless every ``col`` is an integer in
    [1, 1e5]: positive, with int64 ``headroom``.  assert_true returns
    NULL on success, so the filter keeps every valid row and the check
    rides the existing scan — distributed, no extra pass."""
    return df.filter(
        F.assert_true(
            F.col(col).cast("bigint").between(1, 100_000),
            F.lit(
                f"{what} must be an integer in [1, 1e5] (positive, with "
                f"int64 {headroom} headroom)"
            ),
        ).isNull()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    weight_col: str | None = None,
    seeds: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge relation (duplicate edges
    count as parallel edges).  Classic simplified update — each node
    starts at 1/N and per round

        rank(v) = (1-d)/N + d · Σ_{u→v} rank(u)/out_degree(u)

    with d = ``damping_pct``/100 (dangling mass NOT redistributed —
    the standard simplification, documented rather than hidden).  A
    fixed iteration count keeps it SQL-expressible: the oracle replays
    the same rounds as unrolled CTEs in the same int64 fixed-point
    arithmetic.  Output ranks are units/10^12 as double (exact — the
    numerator is far below 2^53).

    ``weight_col`` (r7): edge weights as POSITIVE INTEGERS (co-order
    counts, click counts — the natural multigraph compression);
    contributions become rank·w div Σw per source, still pure integer
    floor arithmetic.  ``seeds`` (r7): personalized PageRank — the
    teleport term concentrates on the seed list ((1−d)/|S| and the
    initial 1/|S| go to seeds only, 0 elsewhere), the standard
    random-walk-with-restart relevance measure.  The seed list is
    driver-sized by contract (a query's seed set, compiled into the
    plan as a literal IN — not a join side).


    100 TB: the degree-annotated edge list is shuffled ONCE onto the
    source key and checkpointed; the node relation once onto the node
    key.  Every subsequent rank vector inherits HashPartitioning(node)
    from the per-round aggregation/join, so each round plans exactly
    ONE new exchange — the transpose (contributions regrouped by
    destination, map-side combined), which is inherent to PageRank.
    The edge↔rank join and the nodes↔sums join are co-partitioned
    zero-shuffle joins.  The rounds run under
    :func:`~pigout_spark.pipeline.iterate.fixpoint`, which checkpoints
    the rank sums every 4 rounds.  The driver holds only N (a scalar).
    """
    # Materialize the (typically derived — a distinct, a projection of
    # a fact table) DEGREE-ANNOTATED edge relation once: a single
    # checkpoint serves the iteration, the node derivation, and the
    # degree lookup (r7: the previous shape checkpointed the raw edges
    # AND the annotated edges — two materializations of the same 600k
    # rows; one suffices since every consumer tolerates the __deg
    # column).  Degree via a map-side-combined groupBy folded back with
    # a CO-PARTITIONED shuffle-hash join (r10): the r9 window shape
    # sorted the full edge stream by __s inside WindowExec (a window
    # with only partitionBy still sorts) — the SHJ build side is the
    # per-partition degree slice (|distinct src|/P rows — bounded at
    # any scale, NOT a broadcast of a node-sized relation), measured
    # −15% on the e-build at sf1, bit-identical output.  The result
    # stays HashPartitioned(__s) for every round's contribution join.
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    if weight_col is not None:
        # Enforce the documented weight contract instead of silently
        # corrupting ranks: a zero-weight-only source used to make
        # __deg 0 and swallow the null division; negatives flipped
        # signs with no error.
        edges = _checked_weights(
            edges, weight_col, f"pagerank: {weight_col}", "overflow"
        )
    # NULL endpoints fail loudly (ADVICE r10): the degree fold is an
    # inner join on __s, so a NULL source would silently drop the edge
    # (and its destination from the node set) — the pre-r10 window
    # construction kept a NULL partition instead.  The check is BAKED
    # INTO the key projection (coalesce short-circuits for valid rows,
    # raise_error fires for NULLs) rather than a separate assert_true
    # filter: Catalyst infers isnotnull(__s) from the inner join and
    # would evaluate that inferred filter first, silently removing the
    # very rows the assert was meant to catch.
    def _nn(col_name: str, alias: str):
        return F.coalesce(
            F.col(col_name),
            F.raise_error(
                F.lit(
                    f"pagerank: {col_name} must be non-null (NULL-key "
                    "edges would vanish in the degree join)"
                )
            ).cast(edges.schema[col_name].dataType),
        ).alias(alias)

    ep = edges.select(_nn(src, "__s"), _nn(dst, "__d"), w.alias("__w")).repartition(
        "__s"
    )
    degs = ep.groupBy("__s").agg(F.sum("__w").alias("__deg"))
    e = checkpoint(ep.join(degs.hint("shuffle_hash"), "__s"))
    # Nodes read the checkpointed edges (recomputed once more by the
    # final join — one shuffle from the checkpoint, cheaper than a
    # second materialization barrier; measured r7).
    # node relation: consumed by the N aggregation and the final
    # base+sums join; it recomputes from the CHECKPOINTED e both times,
    # which measures cheaper than a second materialization barrier
    # (same finding as the r7 e-checkpoint experiment).
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    d = int(damping_pct)
    # Teleport denominator: the whole graph, or the seed set (PPR).
    if seeds is not None and len(seeds) == 0:
        raise ValueError("personalized pagerank needs a non-empty seed list")
    # Per-node teleport units.  PPR divides by the seed-list length — a
    # Python literal.  Uniform PageRank divides by N, which used to be
    # an EAGER nodes.count() — a whole extra job (~half the wall time
    # of a 3-round run at sf0.1) spent materializing the checkpoint
    # before the real work.  Instead N rides along as a broadcast 1-row
    # relation and the unit constants become int64 div expressions over
    # it — same floor arithmetic, same oracle replay, one action total.
    if seeds is not None:
        n_tel = len(seeds)
        base_units_sql = str((( (100 - d) * PAGERANK_UNIT) // 100) // n_tel)
        r0_sql = str(PAGERANK_UNIT // n_tel)

        def attach(df: DataFrame) -> DataFrame:
            return df
    else:
        tot = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("__ntel"))
        base_units_sql = (
            f"(cast({((100 - d) * PAGERANK_UNIT) // 100} as bigint)"
            " div __ntel)"
        )
        r0_sql = f"(cast({PAGERANK_UNIT} as bigint) div __ntel)"

        def attach(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(tot))

    def node_base(col: str, units_sql: str):
        """Per-node teleport units as a Column: the div-by-N expression
        for the uniform case, seed-gated literal for PPR (literal IN —
        seed lists are query-sized by contract)."""
        if seeds is None:
            return F.expr(units_sql)
        return (
            F.when(F.col(col).isin(*seeds), F.expr(units_sql))
            .otherwise(F.lit(0))
            .cast("bigint")
        )

    if int(iterations) <= 0:
        return attach(nodes).select(
            "node",
            (
                node_base("node", r0_sql).cast("double")
                / F.lit(float(PAGERANK_UNIT))
            ).alias("rank"),
        )
    # rank_i(u) = base(u) + (d·sums_i(u)) div 100 is folded INTO the
    # next round's contribution expression, so a round is ONE left join
    # of the edge list with the (dst-keyed) sums relation —
    # co-partitioned, zero new exchange — plus the transpose
    # aggregation (the single per-round shuffle).  The full node
    # relation is only joined once, at the end; nodes that never
    # receive contributions sit at their base implicitly throughout.
    # Weighted: contribution = rank·w div Σw.  Overflow headroom:
    # rank ≤ ~10^13 units and w ≤ 10^5 keeps rank·w below 2^63.
    e = attach(e)
    e = e.withColumn("__sb", node_base("__s", base_units_sql)).withColumn(
        "__r0s", node_base("__s", r0_sql)
    )
    rank_expr = (
        f"(__sb + ({d} * coalesce(__sum, cast(0 as bigint))) div 100)"
    )

    def spread(ranked: DataFrame, rank_sql: str) -> DataFrame:
        """The round's sums: each edge sends rank·w div Σw to __d."""
        return ranked.groupBy(F.col("__d").alias("__n")).agg(
            F.expr(f"sum(({rank_sql} * __w) div __deg)").alias("__sum")
        )

    # Round 1 spreads the initial ranks; the driver runs the rest.
    # SHUFFLE_HASH on the node-sized sums side: a sort-merge join
    # re-sorted the degree-annotated edge list every round.  The build
    # side is the per-partition slice of the rank vector, never a
    # broadcast; LeftOuter + BuildRight is the supported SHJ shape.
    sums = fixpoint(
        "pagerank",
        spread(e, "__r0s"),
        lambda sums: spread(
            e.join(sums.hint("shuffle_hash"), e["__s"] == sums["__n"], "left"),
            rank_expr,
        ),
        rounds=int(iterations) - 1,
        every=4,
    )
    final_rank = node_base("node", base_units_sql) + F.expr(
        f"({d} * coalesce(__sum, cast(0 as bigint))) div 100"
    )
    return (
        attach(nodes)
        # same §3.1 call as the in-loop join: both sides node-sized,
        # hash build beats sorting both
        .join(sums.hint("shuffle_hash"), F.col("node") == sums["__n"], "left")
        .select(
            "node",
            (final_rank.cast("double") / F.lit(float(PAGERANK_UNIT))).alias(
                "rank"
            ),
        )
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph of an edge relation as ``(a, b)``
    bigint pairs with ``a < b``: NULL endpoints, self-loops, direction
    and duplicates dropped."""
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    return (
        edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(n, deg)`` of an :func:`_undirected` edge relation."""
    return (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    per_node: bool = False,
    max_wedges: float | None = 2e9,
) -> DataFrame:
    """Exact triangle count of the UNDIRECTED SIMPLE graph underlying
    an edge relation (direction, duplicates, and self-loops are
    normalized away first).

    Degree-ordered orientation (the classic MapReduce formulation,
    Suri & Vassilvitskii 2011 "Counting triangles and the curse of the
    last reducer"): orient every edge toward the higher-(degree, id)
    endpoint, enumerate wedges only at each edge's lower endpoint, and
    close them against the oriented edge list.  Every triangle has
    exactly one vertex where both its oriented edges originate, so the
    count is exact with no /3 correction — and the wedge relation is
    bounded by O(m^1.5) TOTAL and O(√m) per vertex regardless of skew:
    a degree-d hub generates 0 wedges instead of C(d, 2), which is the
    whole fix for the power-law "last reducer".

    Node ids must be non-negative and < 2^31 (asserted distributed) so
    the (degree, id) order packs into one BIGINT comparison key.

    Output: one row ``(triangles)`` — or, with ``per_node``, one row
    ``(n, triangles)`` per node (every node listed, zero-filled), each
    triangle crediting all three corners.

    100 TB: normalization is one distinct; degrees one groupBy; the
    wedge enumeration and the closing check are plain key-equi joins
    (no cartesian anywhere) whose sizes the orientation bounds.

    DENSITY CONTRACT (enforced): O(m^1.5) is the best exact bound known
    for distributed wedge counting, and on dense graphs it is a real
    wall — the sf1 supplier co-purchase fixture (~6M edges, avg
    degree ~160) runs ~450 s; at 100× the exact path is days.  Before
    building the wedge relation this function computes its EXACT size,
    Σ_v C(d⁺_v, 2) over the oriented out-degrees (the pre-wedge joins
    only, never the wedges themselves), and raises ``ValueError`` if
    it exceeds ``max_wedges`` (default 2e9; the sf0.1 fixture
    enumerates 1.35e8 and passes, the sf1 dense fixture ~1e10 and
    trips) so a user cannot SILENTLY run a multi-hour exact count on a
    dense graph.

    EAGER when ``max_wedges`` is set (r13 ADVICE, now documented): the
    probe runs a Spark job AT CALL TIME — normalize + degree +
    orientation execute before this function returns, unlike the rest
    of the lazy builder API.  The oriented edge relation is
    local-checkpointed first, so those stages run ONCE (the probe's
    action materializes the checkpoint and the returned plan reuses
    it, instead of recomputing the pre-wedge chain).  When the graph
    is dense and an estimate suffices, use
    :func:`triangle_count_sampled` (deterministic DOULION edge
    sampling — seconds at the same scale, oracle-replayable); to
    insist on the exact path — or to keep construction fully lazy —
    pass ``max_wedges=None`` (or a bigger budget) consciously.
    """
    lim = 1 << 31
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    ok = (
        s.isNotNull() & d.isNotNull()
        & (s >= 0) & (s < lim) & (d >= 0) & (d < lim)
    )
    und = _undirected(
        edges.filter(
            F.assert_true(
                ok, F.lit(f"triangle_count node ids must be in [0, {lim})")
            ).isNull()
        ),
        src,
        dst,
    )
    deg = _degrees(und)
    # comparison key: degree-major, id-minor — a total order
    key = (F.col("deg") * F.lit(lim) + F.col("n")).alias("ok")
    ranked = deg.select("n", key)
    withk = (
        und.join(ranked.select(F.col("n").alias("a"), F.col("ok").alias("ka")), "a")
        .join(ranked.select(F.col("n").alias("b"), F.col("ok").alias("kb")), "b")
    )
    oriented = withk.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("d"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kd"),
    )
    if max_wedges is not None:
        # Exact wedge-relation size from the oriented out-degrees —
        # runs only the cheap pre-wedge stages (normalize, degree,
        # orientation joins), never materializes a wedge.  One bounded
        # 1-row collect (the codebook/centroid discipline).  Eager at
        # construction (docstring contract); the checkpoint makes the
        # probe's materialization REUSED by the returned plan instead
        # of the pre-wedge chain computing twice (r13 ADVICE).
        oriented = checkpoint(oriented)
        probe = (
            oriented.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__od"))
            .agg(
                F.sum(
                    F.col("__od") * (F.col("__od") - 1) / 2
                ).alias("__wedges")
            )
            .first()
        )
        n_wedges = float(probe["__wedges"] or 0.0)
        if n_wedges > float(max_wedges):
            raise ValueError(
                f"triangle_count: this graph enumerates "
                f"{n_wedges:.3g} wedges (> max_wedges={max_wedges:.3g}) "
                "— the exact degree-ordered path is O(m^1.5) and this "
                "graph is too dense for it to finish in reasonable "
                "time.  Use triangle_count_sampled (DOULION estimate, "
                "deterministic and oracle-replayable) or pass a larger "
                "max_wedges / max_wedges=None to insist on exact."
            )
    e1 = oriented.select(F.col("s"), F.col("d").alias("v"), F.col("kd").alias("kv"))
    e2 = oriented.select(F.col("s"), F.col("d").alias("w"), F.col("kd").alias("kw"))
    wedges = e1.join(e2, "s").filter(F.col("kv") < F.col("kw")).select("s", "v", "w")
    closing = oriented.select(F.col("s").alias("v"), F.col("d").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    if per_node:
        member = tri.select(
            F.explode(F.array("s", "v", "w")).alias("n")
        ).groupBy("n").agg(F.count(F.lit(1)).alias("triangles"))
        return deg.select("n").join(member, "n", "left").select(
            "n", F.coalesce("triangles", F.lit(0).cast("bigint")).alias("triangles")
        )
    return tri.agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count_sampled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    fraction: float = 0.25,
    buckets: int = 10_000,
) -> DataFrame:
    """DOULION edge-sampled triangle ESTIMATE (Tsourakakis et al.,
    KDD 2009): keep each undirected edge with probability p, count
    triangles EXACTLY on the sampled graph, scale by 1/p³ — the scale
    answer for dense graphs where :func:`triangle_count`'s exact
    O(m^1.5) wedge relation is unpayable (the sf1 supplier
    co-purchase graph takes ~450 s exact; sampling at p cuts the
    wedge stage by ~p^1.5 and the closing join input by p, so p=0.25
    is ~8× cheaper and p=0.1 ~30×, with relative error ~1/√(p³·T) —
    small precisely on the triangle-rich graphs that need it).

    The sample is DETERMINISTIC, not Bernoulli: an edge survives iff
    its canonical pair's md5 bucket falls under ⌊fraction·buckets⌉
    (the :func:`operators.relational.hash_sample` discipline), so any
    engine selects the SAME edge subset and the estimate is
    oracle-replayable bit-for-bit — the effective p is the exact
    literal kept_buckets/buckets, and the 1/p³ scale rides into both
    plans as the SAME Python-computed double literal (the Benford /
    LSH-hyperplane precedent; never engine POWER()).

    Output: ONE row (sampled_edges, sampled_triangles, est6) — est6
    is the ROUND-6 estimate sampled_triangles/p³ (+0.0).

    100 TB: normalization + the md5 filter are narrow maps BEFORE the
    heavy stages, so degrees, orientation, wedges, and the closing
    join all run on the p-sized graph; the two scalar aggregates join
    as single-row broadcasts.
    """
    kept = int(round(fraction * buckets))
    if not (0 < kept <= buckets):
        raise ValueError(
            f"triangle_count_sampled: fraction {fraction} with "
            f"{buckets} buckets keeps {kept} — need 0 < kept ≤ buckets"
        )
    p_eff = kept / buckets
    inv_p3 = 1.0 / (p_eff ** 3)
    und = _undirected(edges, src, dst)
    key = F.concat_ws(
        "|", F.col("a").cast("string"), F.col("b").cast("string")
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    samp = und.filter(bucket % buckets < kept)
    m = samp.agg(F.count(F.lit(1)).cast("bigint").alias("sampled_edges"))
    tri = triangle_count(samp, "a", "b").select(
        F.col("triangles").cast("bigint").alias("sampled_triangles")
    )
    return m.crossJoin(F.broadcast(tri)).select(
        "sampled_edges",
        "sampled_triangles",
        (
            F.round(
                F.col("sampled_triangles").cast("double") * F.lit(inv_p3), 6
            )
            + F.lit(0.0)
        ).alias("est6"),
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: c(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)), zero for degree < 2 — how close each node's
    neighborhood is to a clique (community-quality / link-spam
    signal).  Same plan skeleton as :func:`triangle_count` plus one
    degree join; all key-equi.

    Output: (n, deg, triangles, coef)."""
    deg = _degrees(_undirected(edges, src, dst))
    tri = triangle_count(edges, src, dst, per_node=True)
    return deg.join(tri, "n").select(
        "n",
        "deg",
        "triangles",
        F.when(
            F.col("deg") >= 2,
            2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("coef"),
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Nodes of the k-CORE of the undirected simple graph: the maximal
    subgraph where every node keeps degree ≥ k — computed by iterative
    peeling (drop all nodes with current degree < k, repeat to a
    fixpoint).  The web-graph quality primitive: high-k cores mark
    densely-embedded pages, pendant/chain spam peels away.

    Peeling is a FIXPOINT: running more rounds than needed is a no-op,
    which is what makes the op oracle-replayable — a SQL twin can
    unroll a fixed round count ≥ the convergence point and match
    exactly.  A graph still peeling after ``max_rounds`` peels raises
    (the dedup_clusters discipline) rather than returning a half-peeled
    graph.

    Output: one row (n) per surviving node.

    100 TB: each round is one degree groupBy + two anti-joins, all
    key-equi on node ids; the live edge list shrinks monotonically and
    is checkpointed every round.  The convergence probe is one
    `limit(1)` scan of the weak-node relation per round (driver sees
    0/1 rows).
    """

    def weak(live: DataFrame) -> DataFrame:
        return _degrees(live).filter(F.col("deg") < int(k)).select("n")

    def peel(live: DataFrame) -> DataFrame:
        w = weak(live)
        return (
            live.join(w.withColumnRenamed("n", "a"), "a", "left_anti")
            .join(w.withColumnRenamed("n", "b"), "b", "left_anti")
            .select("a", "b")
        )

    live = fixpoint(
        "k_core",
        checkpoint(_undirected(edges, src, dst)),
        peel,
        rounds=int(max_rounds),
        converged=lambda live: not weak(live).limit(1).count(),
    )
    return _degrees(live).select("n")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 5,
) -> DataFrame:
    """SYNCHRONOUS label propagation (community detection): every node
    starts with its own id as label; each round all nodes
    simultaneously adopt the most frequent label among their
    neighbors, ties broken by the SMALLEST label; isolated nodes (and
    any node whose neighbors vanish) keep their label.  Direction is
    ignored (edges symmetrized, self-loops and duplicates dropped).

    Determinism contract: with the (count DESC, label ASC) tie rule
    the entire trajectory is a pure function of the graph — including
    the oscillations synchronous LPA is known for on bipartite
    structures — so a SQL twin replaying EXACTLY ``rounds`` rounds
    matches bit-for-bit.  Unlike k_core/dedup_clusters this is NOT a
    fixpoint op: over-unrolling changes the answer, so oracle and
    engine must agree on the round count (both take it as a
    parameter; no convergence claim is made or needed).

    Output: (node, label) — nodes sharing a label after ``rounds``
    rounds are one community.

    100 TB: per round ONE message join (labels onto the symmetrized,
    checkpointed edge list), one (node, label) count aggregation
    (map-side combined, bounded by the edge count), one per-node argmax
    as a row_number window on the node partitioning
    (label-cardinality-sized input, type-generic — node ids may be
    strings), and one carry-over left join against the node relation.  Labels are checkpointed every
    round.
    """
    from pyspark.sql import Window

    s, d = F.col(src), F.col(dst)
    base = edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
    e = checkpoint(
        base.select(s.alias("__u"), d.alias("__v"))
        .unionByName(base.select(d.alias("__u"), s.alias("__v")))
        .distinct()
    )
    nodes = checkpoint(e.select(F.col("__u").alias("node")).distinct())

    def step(labels: DataFrame) -> DataFrame:
        msgs = e.join(
            labels, e["__u"] == labels["node"]
        ).select(F.col("__v").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        # argmax by (count DESC, label ASC): a row_number window on
        # the node partitioning (input is per-(node, distinct label) —
        # already aggregated, far smaller than the message stream) —
        # type-generic, so node ids may be strings.
        wbest = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("label").asc()
        )
        best = (
            counts.withColumn("__rn", F.row_number().over(wbest))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        # labels IS the node relation every round (static graph), so
        # the carry-over needs no extra nodes join
        return labels.join(best, "node", "left").select(
            "node", F.coalesce(F.col("__new"), F.col("label")).alias("label")
        )

    return fixpoint(
        "label_propagation",
        nodes.select("node", F.col("node").alias("label")),
        step,
        rounds=int(rounds),
    )


def common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor LINK PREDICTION: for every unordered node pair
    (u < v) sharing at least ``min_common`` neighbors, the shared
    count and the neighbor-set Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| —
    the classic "people you may know" / co-citation score.  Direction,
    duplicates, and self-loops are normalized away.

    Output: (u, v, common, jaccard), u < v, existing edges INCLUDED
    (filter them out downstream with an anti-join against the edge
    list when predicting genuinely new links — kept here so the score
    also serves similarity queries on existing neighbors).

    100 TB: wedge enumeration through a hub with degree d costs
    C(d, 2) pairs — the quadratic hub trap.  ``max_wedge_degree``
    EXCLUDES nodes above the bound from the wedge-center role (their
    wedges are not enumerated; counts through them are lost — a
    documented approximation, the cap_events_per_key discipline for
    graphs: a 10⁶-degree celebrity would otherwise emit 5·10¹¹
    pairs).  Everything else is key-equi: one distinct, one degree
    aggregation, one adjacency self-join on the wedge center, one
    pair-keyed count, two degree lookups.
    """
    s, d = F.col(src), F.col(dst)
    base = edges.filter(s.isNotNull() & d.isNotNull() & (s != d))
    adj = checkpoint(
        base.select(s.alias("__w"), d.alias("__x"))
        .unionByName(base.select(d.alias("__w"), s.alias("__x")))
        .distinct()
    )
    deg = adj.groupBy("__x").agg(F.count(F.lit(1)).alias("__deg")).select(
        F.col("__x").alias("node"), "__deg"
    )
    centers = adj
    if max_wedge_degree is not None:
        wdeg = adj.groupBy("__w").agg(F.count(F.lit(1)).alias("__wd"))
        centers = adj.join(
            wdeg.filter(F.col("__wd") <= int(max_wedge_degree)).select("__w"),
            "__w",
        )
    a, b = centers.alias("a"), centers.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__w") == F.col("b.__w")) & (F.col("a.__x") < F.col("b.__x")),
    ).select(F.col("a.__x").alias("u"), F.col("b.__x").alias("v"))
    counts = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common")
    ).filter(F.col("common") >= int(min_common))
    du = deg.select(F.col("node").alias("u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("__deg").alias("__dv"))
    return (
        counts.join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "common",
            (
                F.col("common").cast("double")
                / (F.col("__du") + F.col("__dv") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge relation: every score starts at 10^12 units and per
    round

        auth(v) = Σ_{u→v} hub(u)      then rescale toward L1 = 10^12
        hub(u)  = Σ_{u→v} auth(v)     then rescale toward L1 = 10^12

    in exact fixed-point integer arithmetic (sums widened through
    DECIMAL(38,0)/HUGEINT — an int64 sum wraps past ~9.2M edges or a
    10^7-degree hub).  Rescaling divides every
    score by the INTEGER divisor max(Σx div 10^12, 1) (the L1 total
    in units of 10^12), so the post-round total lands in
    [10^12, ~2·10^12) instead of exactly 10^12 — a deliberate choice:
    division by a shared positive constant preserves the ranking
    EXACTLY, stays pure int64 (an exact x·10^12 div Σx needs 128-bit
    intermediates, and Spark's DECIMAL(38) integral divide ROUNDS
    when precision overflows — measured off-by-one vs true floor), and
    keeps every round engine-replayable bit-for-bit.  Textbook HITS
    uses L2 norms, whose sqrt would break integer exactness — scale
    choice never changes HITS rankings.  Duplicate edges count as
    parallel edges.

    Output: (node, hub, authority) as doubles (units/10^12); nodes
    with no out-edges have hub 0, no in-edges authority 0 — every
    node of the graph is listed.

    100 TB: per round two key-equi join+aggregate passes over the
    checkpointed edge list (one exchange each — the src→dst transpose
    and back, inherent to HITS) and two 1-row
    broadcast scalars; scores are node-sized relations checkpointed
    every round.  No windows, no collect beyond the scalar
    frames Spark broadcasts itself.
    """
    s, d = F.col(src), F.col(dst)
    base = edges.filter(s.isNotNull() & d.isNotNull())
    e = checkpoint(base.select(s.alias("__s"), d.alias("__d")))
    nodes = checkpoint(
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    start = F.lit(PAGERANK_UNIT).cast("bigint")

    def normalize(scores: DataFrame, col: str) -> DataFrame:
        # Raw sums and totals widen through DECIMAL(38,0): at |E| over
        # ~9.2M edges (or a 10^7-degree hub) an int64 sum of 10^12-unit
        # scores would silently wrap in Spark's non-ANSI mode while the
        # DuckDB twin's HUGEINT stays exact.  The rescale divides a
        # decimal by an int64 divisor — a PLAIN integral divide, which
        # both engines floor exactly (unlike the x·UNIT div Σx form,
        # whose wide multiply trips Spark's precision-overflow rounding
        # — measured r7; and unlike DuckDB's DECIMAL //, which routes
        # through doubles — HUGEINT // is the exact oracle-side twin).
        total = scores.agg(
            F.sum(F.col(col).cast("decimal(38,0)")).alias("__tot")
        )
        return scores.crossJoin(F.broadcast(total)).select(
            "node",
            F.expr(
                f"CAST(CAST({col} AS DECIMAL(38,0)) div"
                f" greatest(CAST(__tot div {PAGERANK_UNIT} AS BIGINT),"
                f" cast(1 as bigint)) AS BIGINT)"
            ).alias(col),
        )

    def half(scores: DataFrame, col: str, out: str, frm: str, to: str) -> DataFrame:
        """Half a round: every node's ``out`` score is the rescaled sum
        of the ``col`` scores at the ``frm`` end of its edges."""
        raw = (
            e.join(scores, e[frm] == scores["node"])
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(F.col(col).cast("decimal(38,0)")).alias(out))
        )
        return normalize(
            nodes.join(raw, "node", "left").select(
                "node",
                F.coalesce(out, F.lit(0)).cast("decimal(38,0)").alias(out),
            ),
            out,
        )

    def step(scores: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        auth = half(scores[0], "__h", "__a", "__s", "__d")
        return half(auth, "__a", "__h", "__d", "__s"), auth

    hub, auth = fixpoint(
        "hits",
        (
            nodes.select("node", start.alias("__h")),
            nodes.select("node", start.alias("__a")),
        ),
        step,
        rounds=int(iterations),
    )
    unit = F.lit(float(PAGERANK_UNIT))
    return (
        nodes.join(hub, "node")
        .join(auth, "node")
        .select(
            "node",
            (F.col("__h").cast("double") / unit).alias("hub"),
            (F.col("__a").cast("double") / unit).alias("authority"),
        )
    )


def _seeds(op: str, edges: DataFrame, sources: list, col: str) -> DataFrame:
    """The distinct ``sources`` as ``(node, <col>)`` rows at 0.  A seed
    list is driver-sized by contract; an empty one raises."""
    if not sources:
        raise ValueError(f"{op}: sources must be a non-empty list")
    return (
        edges.sparkSession.createDataFrame(
            [(int(x),) for x in sources], "node bigint"
        )
        .distinct()
        .withColumn(col, F.lit(0).cast("bigint"))
    )


def _with_reversed(e: DataFrame) -> DataFrame:
    """``e`` plus every ``(__s, __d)`` edge reversed, other columns kept."""
    swap = {"__s": "__d", "__d": "__s"}
    return e.unionByName(e.select([F.col(c).alias(swap.get(c, c)) for c in e.columns]))


def bfs_distances(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 5,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: the minimum HOP COUNT from the nearest source
    to every node reachable within ``max_hops`` edges.  The reach/
    influence primitive the graph family was missing (pagerank ranks,
    k-core peels, LPA clusters — nothing measured distance).

    ``sources`` is a driver-sized seed list by contract (a query's
    seed set, compiled into the plan as literals — the pagerank
    ``seeds`` discipline), NOT a relation.

    Frontier form: only nodes FIRST reached in round i−1 propagate in
    round i.  Exact for unweighted BFS (the first hop count that
    reaches a node is its minimum), and the whole computation is
    integer, so any engine replays it bit-for-bit.  A fixed
    ``max_hops`` keeps it SQL-expressible: the oracle unrolls the same
    rounds as CTEs; "distance within k hops" is well-defined whether
    or not the frontier has emptied, so no convergence guard is
    needed (the Bellman-Ford k-round contract, unlike k_core's
    fixpoint guard).

    Output: (node, hops) — sources at 0; unreachable-within-budget
    nodes absent.

    100 TB: the edge list is deduplicated and checkpointed once; each
    round is one frontier⋈edges join on the source key + one anti-join
    against the settled set, both on node-key partitioning.  The
    frontier is the working set — on real graphs it peaks and shrinks,
    so late rounds are cheap; the settled relation grows monotonically,
    and both are checkpointed every 4 rounds.  The driver holds only
    the seed literals.
    """
    # Seeds that never appear in the edge relation still belong in the
    # output at hop 0 (they are trivially reachable from themselves).
    settled = _seeds("bfs_distances", edges, sources, "hops")
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    e = edges.filter(s.isNotNull() & d.isNotNull()).select(
        s.alias("__s"), d.alias("__d")
    )
    if not directed:
        e = _with_reversed(e)
    # The edges are not repartitioned before the checkpoint.  A
    # count-less repartition("__s") is coalesced by adaptive execution,
    # so the round joins exchange the edges anyway (x_bfs_hops: 14 Spark
    # jobs with it, 13 without, at sf0.1).  repartition(n, "__s") would
    # keep hashpartitioning(__s, n), but the edge copies in the repeated
    # round subtrees would stop comparing equal, so no exchange above
    # them is reused: x_bfs_hops went from 14 to 27 jobs.
    e = checkpoint(e.distinct())
    hops = itertools.count(1)  # fixpoint calls step once per round

    def step(state: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        settled, frontier = state
        reached = (
            frontier.join(e, frontier.node == e.__s)
            .select(F.col("__d").alias("node"))
            .distinct()
        )
        newly = reached.join(settled, "node", "left_anti").withColumn(
            "hops", F.lit(next(hops)).cast("bigint")
        )
        return settled.unionByName(newly), newly.select("node")

    settled, _ = fixpoint(
        "bfs_distances",
        (settled, settled.select("node")),
        step,
        rounds=int(max_hops),
        every=4,
    )
    return settled


def shortest_paths(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 5,
    directed: bool = True,
) -> DataFrame:
    """Fixed-iteration Bellman-Ford: the minimum WEIGHTED distance
    from the nearest source to every node, over paths of at most
    ``iterations`` edges.  The k-edge bound is the semantics, not an
    approximation artifact — "cheapest route using ≤ k legs" is
    well-defined and exactly SQL-replayable with k unrolled rounds
    (run iterations ≥ diameter and it equals true SSSP).

    Weights are POSITIVE INTEGERS (the pagerank weight contract —
    latency ms, toll cents, count weights), enforced by a distributed
    assert_true with int64 overflow headroom: path sums stay below
    max_hops·10^5·|longest chain| « 2^63, and pure integer min/plus
    arithmetic makes any engine bit-identical.  ``weight_col=None``
    means unit weights (then this is BFS with distances == hops).

    Output: (node, dist) — sources at 0; nodes unreachable within the
    edge budget absent.

    100 TB: classic relaxation — each round joins the CURRENT distance
    relation to the once-shuffled, once-checkpointed edge list on the
    source key (co-partitioned), takes the map-side-combinable min per
    destination, and merges with a node-key groupBy.  Per round: one
    exchange (the transpose onto dst), the pagerank shape.  The
    distance relation is node-sized, checkpointed every 4 rounds.  No
    driver-side state beyond seeds.
    """
    dist = _seeds("shortest_paths", edges, sources, "dist")
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col is not None
        else F.lit(1).cast("bigint")
    )
    e = edges.filter(s.isNotNull() & d.isNotNull()).select(
        s.alias("__s"), d.alias("__d"), w.alias("__w")
    )
    if weight_col is not None:
        e = _checked_weights(
            e, "__w", f"shortest_paths: {weight_col}", "path-sum"
        )
    if not directed:
        e = _with_reversed(e)
    e = checkpoint(e)

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = (
            dist.join(e, dist.node == e.__s)
            .groupBy(F.col("__d").alias("node"))
            .agg(F.min(F.col("dist") + F.col("__w")).alias("dist"))
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return fixpoint(
        "shortest_paths", dist, relax, rounds=int(iterations), every=4
    )
