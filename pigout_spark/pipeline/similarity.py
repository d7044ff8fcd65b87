"""Similarity search over embedding columns (array<float>).

Everything computes in JVM-side higher-order functions (zip_with +
aggregate fold) — no Python in the hot path.  Floats are cast to double
*before* multiplication and folded left-to-right, which makes the dot
product bit-identical to a SQL left-fold (list_reduce) — the property
the DuckDB oracle checks ride on.

Scale notes (100 TB):
- brute-force top-k: broadcast the query set, per-partition scoring,
  per-query top-k via window on the query key.  Right when |queries| is
  small; cost is one scan of the corpus, no shuffle of the corpus.
- hyperplane LSH: 8 signed projections → 256 buckets; bucketing is a
  narrow map, candidate search is a bucket-equi-join.  The ANN path —
  never a cross join (FIXTURES.md design constraint).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pigout_spark.catalog import memo
from pigout_spark.functions.math_fns import to_cents


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product: ((0 + x₁y₁) + x₂y₂) + … — the exact
    summation order list_reduce uses, so cross-engine bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
) -> DataFrame:
    """Exact cosine top-k per query vector (the correctness baseline).

    queries is broadcast (small by contract); the corpus is scanned once
    with per-row scoring, then per-query top-k via window row_number on
    the query key — no corpus shuffle, no global sort."""
    from pyspark.sql import Window

    # Norms are precomputed per vector (not per pair): the fold over the
    # 64-dim array is the unit of work — at |Q| queries this saves
    # 2·|corpus|·|Q| folds, leaving one dot per pair.
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias(q_id), as_double(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(q_id))
        .withColumn("cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(q_id, "neighbor_id", "cos", "rn")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 1000) -> list[list[float]]:
    """Deterministic hyperplanes (plain Python PRNG, engine-neutral —
    the constants embed into both the Spark plan and any SQL oracle)."""
    out = []
    for i in range(n_planes):
        rng = random.Random(seed + i)
        out.append([rng.uniform(-1.0, 1.0) for _ in range(dim)])
    return out


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Signed-projection bucket code: bit i = (v · plane_i >= 0).

    A string input is treated as the raw array column NAME and compiled
    as one SQL expression (see lsh_bucket_sql — plan construction is
    ~100× fewer py4j calls than per-literal Columns); a Column input
    keeps the combinator path for arbitrary expressions."""
    if isinstance(vec_col, str):
        return F.expr(lsh_bucket_sql(as_double_sql(vec_col), planes))
    code = None
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(vec_col, lit_plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        code = bit if code is None else (code + bit)
    return code.cast("int")


def _collect_centroids(
    emb: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float], float]]:
    """Pull the centroid vectors to the driver as plain floats.

    IVF centroids are driver-sized BY DEFINITION — FAISS keeps its
    nlist≈√N codebook in RAM on every node; at 1e9 vectors that is
    ~30k×64 doubles ≈ 15 MB.  This collects ``n_centroids`` rows, never
    the corpus, and lets cell assignment be a pure narrow map (no
    crossJoin, no window, no shuffle).  The norm is folded left-to-right
    in Python — IEEE doubles, bit-identical to the SQL/Spark left fold.
    """
    import math

    rows = (
        emb.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("c_id"), as_double(vec_col).alias("cv"))
        .collect()
    )
    out = []
    for r in sorted(rows, key=lambda r: r.c_id):
        cv = [float(x) for x in r.cv]
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        out.append((int(r.c_id), cv, math.sqrt(acc)))
    return out


def _norm_py(cv: list[float]) -> float:
    """Python twin of norm(): same left fold, bit-identical IEEE."""
    import math

    acc = 0.0
    for x in cv:
        acc = acc + x * x
    return math.sqrt(acc)


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> list[tuple[int, list[float], float]]:
    """Seeded spherical-k-means codebook, trained on the cluster and
    collected to the driver (FAISS-style: the codebook is driver-sized
    BY DEFINITION — nlist≈√N rows).

    Deterministic and engine-neutral BY CONSTRUCTION, so a SQL oracle
    can replay the identical training and get bit-identical centroids:

    - init: the ``n_centroids`` lowest-id vectors (a fixed seed);
    - assign: nearest centroid by cosine (default) or L2
      (``metric="l2"`` — PQ subspace training), ties → lowest c_id —
      the same narrow-map argmax/argmin the serving path uses;
    - update: per-cell per-dimension EXACT mean — values quantized to
      int64 cents (round(x·10⁴), the registry.py dsum device: exact,
      order-independent, combiner-friendly), summed as int64, then
      CAST(.. AS DOUBLE)/10⁴/count.  No order-dependent double sums
      anywhere, so Spark and the SQL mirror agree bitwise;
    - an emptied cell keeps its previous centroid (standard k-means).

    Each iteration is one narrow assignment map + one (cell, dim)
    groupBy collecting n_centroids·dim rows — at 100 TB, train on a
    deterministic sample (e.g. ``emb.filter(id % s == 0)``) exactly as
    FAISS does; the dataflow is unchanged.  A production IVF loads its
    codebook once per job, not once per query plan, so the result is
    memoized per application (``catalog.memo``) under the corpus plan's
    ``semanticHash`` — the plan, not the data — and the params."""
    params = (n_centroids, n_iters, id_col, vec_col, metric)
    return memo(
        emb.sparkSession,
        ("centroids", emb.semanticHash(), *params),
        lambda: _train_centroids(emb, *params),
    )


def _train_centroids(emb, n_centroids, n_iters, id_col, vec_col, metric):
    cents = _collect_centroids(emb, n_centroids, id_col, vec_col)
    base = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    dim = len(cents[0][1]) if cents else 0
    for _ in range(n_iters):
        if metric == "l2":
            assigned = base.withColumn("cell", _argmin_l2_cell("v", cents))
        else:
            assigned = base.withColumn("cell", _argmax_cell("v", "nrm", cents))
        stats = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(to_cents(F.col("x"))).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cell.setdefault(int(r.cell), {})[int(r.dim)] = (int(r.s), int(r.n))
        new_cents = []
        for c_id, cv, cn in cents:
            dims = by_cell.get(c_id)
            if not dims:
                new_cents.append((c_id, cv, cn))  # emptied cell: keep
                continue
            # float(s) is exact (|s| < 2^53); /1e4 then /n mirrors the
            # SQL CAST(SUM(..) AS DOUBLE)/10000.0/COUNT(*) op-for-op.
            ncv = [
                float(dims[d][0]) / 10000.0 / dims[d][1] for d in range(dim)
            ]
            new_cents.append((c_id, ncv, _norm_py(ncv)))
        cents = new_cents
    return cents


# --- single-expr SQL builders -------------------------------------------
# Literal-heavy expressions (a 64-dim plane is 64 literals; 8 planes are
# 512) are built as ONE SQL string parsed JVM-side by F.expr — the
# Column-combinator route costs one py4j round trip PER literal and
# dominated plan-construction time (~0.6 s per ANN query).  The parsed
# Catalyst tree is identical, so results are bit-for-bit the same.


def _dlit_sql(x: float) -> str:
    """Exact double literal: repr round-trips IEEE doubles."""
    return f"CAST('{repr(float(x))}' AS DOUBLE)"


def _arr_sql(xs: list[float]) -> str:
    return "array(" + ", ".join(_dlit_sql(x) for x in xs) + ")"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL twin of dot(): the same left fold, same summation order."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def as_double_sql(col: str) -> str:
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL form of lsh_bucket over a double-array SQL fragment."""
    bits = " + ".join(
        f"(CASE WHEN {_dot_sql(vec_sql, _arr_sql(p))} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS INT)"


def _cell_scores_sql(v: str, nrm: str, cents: list) -> list[tuple[int, str]]:
    """Cosine of column ``v`` against each collected centroid (ascending
    c_id) as SQL fragments — the same left fold the oracle SQL uses."""
    return [
        (c_id, f"({_dot_sql(v, _arr_sql(cv))} / ({nrm} * {_dlit_sql(cn)}))")
        for c_id, cv, cn in cents
    ]


def _argmax_cell(v: str, nrm: str, cents: list) -> Column:
    """Nearest-centroid id = first element of the sorted probe array.

    NOT a when-chain fold: a fold duplicates every score subexpression
    into each later branch (2^n copies of the first 64-dim dot — Spark
    does no cross-branch CSE), while the array constructor evaluates
    each score exactly once.  Sort order (-s asc, c_id asc) ==
    ROW_NUMBER() OVER (ORDER BY s DESC, c_id) = 1."""
    return F.expr(f"element_at({_probe_cells_sql(v, nrm, cents, 1)}, 1)")


def _probe_cells_sql(v: str, nrm: str, cents: list, nprobe: int) -> str:
    """Array of the ``nprobe`` nearest cell ids: sort an n_centroids
    struct array by (-s asc, c_id asc) — double negation is exact, so
    the order equals (s DESC, c_id) — then slice.  Narrow, no shuffle."""
    structs = ", ".join(
        f"named_struct('negs', -({s}), 'c_id', {c_id})"
        for c_id, s in _cell_scores_sql(v, nrm, cents)
    )
    return (
        f"transform(slice(sort_array(array({structs})), 1, {nprobe}), "
        f"st -> st.c_id)"
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    nearest-by-cosine centroid.  Centroids come from the seeded
    spherical k-means codebook (``kmeans_centroids``; ``n_iters=0``
    degenerates to the raw lowest-id-vectors init).

    Centroids are trained/collected once (driver-sized) and embedded as
    literals, so assignment is one narrow projection over the corpus:
    zero shuffles, no crossJoin, no window — the plan a 1000-executor
    scan wants.  Returns (id, v double[], nrm, cell)."""
    cents = kmeans_centroids(emb, n_centroids, n_iters, id_col, vec_col)
    return (
        emb.select(F.col(id_col), as_double(vec_col).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .withColumn("cell", _argmax_cell("v", "nrm", cents))
    )


def ivf_probe_cells(
    emb: DataFrame,
    n_centroids: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ids_max: int | None = None,
    n_iters: int = 3,
) -> DataFrame:
    """Top-``nprobe`` nearest cells per vector (the IVF probe list).
    Centroids always train on the FULL ``emb`` (same codebook as
    ivf_assign); ``ids_max`` optionally restricts which vectors get
    probe lists (the query subset).  Narrow: literal centroids + in-row
    sort/slice/explode — ``nprobe`` rows per vector, no shuffle."""
    cents = kmeans_centroids(emb, n_centroids, n_iters, id_col, vec_col)
    base = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    probed = base if ids_max is None else base.filter(F.col(id_col) < ids_max)
    return probed.select(
        F.col(id_col),
        "v",
        "nrm",
        F.explode(
            F.expr(_probe_cells_sql("v", "nrm", cents, nprobe))
        ).alias("cell"),
    )


def ivf_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    n_iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: candidates restricted to the query's
    ``nprobe`` nearest cells, exact cosine within those cells.  The cell
    id is the join key — never O(n²).

    Scale knobs (production: nlist ≈ √N, nprobe 4–32): ``n_centroids``
    trades cell size against centroid-scoring cost; ``nprobe`` trades
    recall against candidate volume — each probed cell contributes its
    members once (a candidate lives in exactly one cell, so no dedup
    shuffle is needed).

    Physical plan: the query side is ≤ ``query_ids_max`` rows BY
    CONTRACT (same as brute_force_topk) and is broadcast, so the corpus
    is never shuffled — cell assignment stays a narrow map over the
    scan, and the only shuffle is the per-query top-k window.  For
    LARGE query sets (all-pairs near-dup), use embedding_cosine_dups,
    whose bucket join shuffles both sides by design."""
    from pyspark.sql import Window

    cells = ivf_assign(emb, n_centroids, id_col, vec_col, n_iters)
    if nprobe <= 1:
        q = cells.filter(F.col(id_col) < query_ids_max).select(
            F.col(id_col).alias("q_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"), "cell",
        )
    else:
        probes = ivf_probe_cells(
            emb, n_centroids, nprobe, id_col, vec_col,
            ids_max=query_ids_max, n_iters=n_iters,
        )
        q = probes.select(
            F.col(id_col).alias("q_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"), "cell",
        )
    cand = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"), "cell",
    )
    scored = (
        F.broadcast(q).join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


def ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine within the bucket.  The bucket code is the
    join key → never O(n²).

    Physical plan: ``queries`` is small BY CONTRACT (same as
    brute_force_topk) — the restricted query side is broadcast, so the
    corpus is never shuffled: bucketing stays a narrow map over the
    scan, and the only shuffle is the per-query top-k window.  For
    LARGE query sets (all-pairs near-dup), use embedding_cosine_dups,
    whose bucket join shuffles both sides by design."""
    from pyspark.sql import Window

    withb = emb.select(
        F.col(id_col), as_double(vec_col).alias("v"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    q = withb.select(
        F.col(id_col).alias("q_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), "bucket",
    ).join(F.broadcast(queries.select(F.col(id_col).alias("q_id"))), "q_id")
    cand = withb.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"), "bucket",
    )
    scored = (
        F.broadcast(q).join(cand, "bucket")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = round(v_i / scale)`` ∈ [−127, 127] — the storage step for
    100 TB embedding tables (4× smaller than float32, 8× than float64;
    reconstruction error ≤ scale/2 per component).

    Pure narrow column expressions (transform/array_max), zero shuffle;
    round() is half-away-from-zero in both Spark and DuckDB, and the
    scale division is IEEE — the codes are engine-identical, so the
    quantizer itself is oracle-checkable.  All-zero vectors get
    ``scale = 0`` and all-zero codes.  Output: (id, scale, qvec).
    """
    v = as_double(vec_col)
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    qv = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col), scale.alias("scale"), qv.alias("qvec")
    )


def dequantize(qvec: Column | str, scale: Column | str) -> Column:
    """Inverse of :func:`quantize_embeddings`: q_i · scale."""
    q = F.col(qvec) if isinstance(qvec, str) else qvec
    s = F.col(scale) if isinstance(scale, str) else scale
    return F.transform(q, lambda x: x.cast("double") * s)


def quantized_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8-RESCORE top-k: coarse-score every candidate on its
    DEQUANTIZED int8 code, keep ``rescore·k`` per query, exact-rescore
    only those on the full float vectors — the pattern that turns
    :func:`quantize_embeddings`'s 4× storage cut into a 4× smaller
    search scan.

    Why it preserves recall: per-component quantization error is
    ≤ scale/2, so the coarse cosine ordering is near-exact; any
    true top-k neighbor displaced by quantization noise is recovered
    as long as it stays within the top ``rescore·k`` coarse
    candidates (recall vs the float path is pinned by
    test_quantized_topk_recall).

    100 TB plan: the corpus-wide scan reads ONLY (id, scale, int8
    codes) — 4× less I/O than float32, 8× than float64; queries are
    broadcast (small by contract, same as brute_force_topk), so the
    corpus is never shuffled.  The exact stage touches just
    |Q|·rescore·k float vectors via a key-equi join (point lookups,
    not a second corpus scan).  Query vectors stay full-precision
    throughout (the standard asymmetric-distance setup).
    """
    from pyspark.sql import Window

    full = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    # In production the code table is STORED (quantize_embeddings →
    # parquet) and this recomputation disappears; deriving it inline
    # keeps the operator self-contained for the gate.
    cand = (
        quantize_embeddings(emb, vec_col, id_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            dequantize("qvec", "scale").alias("dv"),
        )
        .withColumn("dn", norm(F.col("dv")))
    )
    q = full.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    coarse = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn(
            "qcos", dot(F.col("qv"), F.col("dv")) / (F.col("qn") * F.col("dn"))
        )
    )
    ws = Window.partitionBy("q_id").orderBy(F.desc("qcos"), "neighbor_id")
    surv = (
        coarse.withColumn("qrn", F.row_number().over(ws))
        .filter(F.col("qrn") <= rescore * k)
        .select("q_id", "neighbor_id", "qv", "qn")
    )
    exact = surv.join(
        full.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        ),
        "neighbor_id",
    ).withColumn(
        "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


def ivf_quantized_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int,
    n_centroids: int = 8,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
) -> DataFrame:
    """IVF × int8 rescore — the two approximations composed, i.e. the
    FAISS IVF-PQ serving layout done with DataFrame ops: candidates
    restricted to the query's cell (IVF), coarse-scored on dequantized
    int8 codes, exact float rescore of the top ``rescore·k``.

    100 TB: the production table is ONE narrow relation
    (id, cell, scale, int8 codes) — the search scan reads 4× fewer
    bytes than float32 AND only the probed cells' rows move through the
    cell join; the float table is touched just for |Q|·rescore·k
    key-equi point lookups.  Derived inline here (same
    self-containment note as :func:`quantized_topk`); centroids are
    driver-sized literals, queries broadcast, corpus never shuffled.
    """
    from pyspark.sql import Window

    cells = ivf_assign(emb, n_centroids, id_col, vec_col, n_iters)
    scale = F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)
    dv = F.when(
        scale > 0,
        F.transform(
            F.col("v"),
            lambda x: F.round(x / scale).cast("int").cast("double") * scale,
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0.0)))
    cand = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col("cell"), dv.alias("dv")
    ).withColumn("dn", norm(F.col("dv")))
    q = cells.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    coarse = (
        F.broadcast(q)
        .join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn(
            "qcos", dot(F.col("qv"), F.col("dv")) / (F.col("qn") * F.col("dn"))
        )
    )
    ws = Window.partitionBy("q_id").orderBy(F.desc("qcos"), "neighbor_id")
    surv = (
        coarse.withColumn("qrn", F.row_number().over(ws))
        .filter(F.col("qrn") <= rescore * k)
        .select("q_id", "neighbor_id", "qv", "qn")
    )
    full = emb.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    exact = surv.join(full, "neighbor_id").withColumn(
        "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


# --- Product quantization (FAISS PQ analog) -------------------------------


def _dot_py(a: list[float], b: list[float]) -> float:
    """Driver-side dot with the SAME left-fold order as _dot_sql/dot —
    bitwise-identical to what either engine computes on these values."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cell_scores_l2(v: str, cents: list) -> list[tuple[int, str]]:
    """L2 argmin as argmax of (x·c − |c|²/2): |c|²/2 is computed
    driver-side with the shared fold order, so the literal equals what
    the oracle computes from the identical centroid values."""
    return [
        (
            c_id,
            f"({_dot_sql(v, _arr_sql(cv))} - {_dlit_sql(_dot_py(cv, cv) / 2.0)})",
        )
        for c_id, cv, _cn in cents
    ]


def _argmin_l2_cell(v: str, cents: list) -> Column:
    """Nearest centroid by L2 (ties → lowest c_id) — the probe-array
    device of _argmax_cell over the L2 scores."""
    structs = ", ".join(
        f"named_struct('negs', -({s}), 'c_id', {c_id})"
        for c_id, s in _cell_scores_l2(v, cents)
    )
    return F.expr(
        f"element_at(transform(slice(sort_array(array({structs})), 1, 1), "
        f"st -> st.c_id), 1)"
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list]:
    """Train PRODUCT-QUANTIZATION codebooks: split each vector into
    ``m`` contiguous subvectors and run the exact-mean k-means
    (kmeans_centroids discipline — lowest-id init, tie-broken argmin,
    int64-cents means) with L2 assignment per subspace.  Returns m
    driver-sized codebooks (m·k·(dim/m) floats — KBs).

    100 TB: same story as the IVF codebook — train on a deterministic
    sample; each subspace iteration is one narrow argmin map + one
    (cell, dim) aggregation.
    """
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    books = []
    for j in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(as_double(vec_col), j * sub + 1, sub).alias("embedding"),
        )
        books.append(
            kmeans_centroids(
                sliced, n_centroids=k, n_iters=n_iters,
                id_col=id_col, vec_col="embedding", metric="l2",
            )
        )
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` centroid ids (one byte-ish each —
    the 64-float → m-int compression) plus its EXACT norm (stored for
    asymmetric cosine scoring).  Pure narrow map."""
    sub = len(books[0][0][1])
    base = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    codes = F.array(
        *[
            _argmin_l2_cell(f"slice(v, {j * sub + 1}, {sub})", books[j])
            for j in range(len(books))
        ]
    )
    return base.select(id_col, "nrm", codes.alias("codes"))


def pq_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int,
    books: list[list],
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k with exact rescore: coarse score is the asymmetric
    distance Σ_j dot(q_j, codebook_j[code_j]) / (|q|·|x|) — the corpus
    scan reads only (id, norm, m codes), the FAISS-PQ serving layout —
    then the top ``rescore·k`` candidates per query rescore on full
    float vectors via a key-equi join.

    Per-code lookup is element_at over the k dot-expressions (each
    evaluated once per row, selected by the stored code) — the LUT as
    one JVM expression, no Python in the scan.
    """
    full = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    sub = len(books[0][0][1])
    cand = pq_encode(emb, books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("nrm").alias("xn"),
        F.col("codes"),
    )
    q = full.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # ADC: for subspace j the LUT is the k dots of the query slice with
    # each centroid (ordered by c_id = 0..k-1), indexed by the code.
    luts = []
    for j, book in enumerate(books):
        qslice = f"slice(qv, {j * sub + 1}, {sub})"
        arr = ", ".join(
            _dot_sql(qslice, _arr_sql(cv))
            for _c_id, cv, _cn in sorted(book, key=lambda c: c[0])
        )
        luts.append(f"element_at(array({arr}), codes[{j}] + 1)")
    adc = " + ".join(f"({x})" for x in luts)
    from pyspark.sql import Window

    coarse = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("qcos", F.expr(adc) / (F.col("qn") * F.col("xn")))
        .withColumn(
            "qrn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("qcos"), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("qrn") <= rescore * k)
    )
    exact = (
        coarse.select("q_id", "neighbor_id", "qv", "qn")
        .join(
            full.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("v").alias("nv"),
                F.col("nrm").alias("nn"),
            ),
            "neighbor_id",
        )
        .withColumn("cos", dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids_max: int,
    k: int,
    books: list[list] | None = None,
    n_centroids: int = 8,
    m: int = 4,
    pq_k: int = 8,
    pq_iters: int = 2,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
) -> DataFrame:
    """IVF × PQ — the canonical FAISS IVFPQ layout with DataFrame ops:
    candidates restricted to the query's cosine cell (IVF), ADC-scored
    on their m PQ codes, exact float rescore of the top ``rescore·k``.

    100 TB: the serving table is ONE narrow relation
    (id, cell, norm, m codes) — smaller still than the int8 variant —
    and only the probed cell's rows join; the float table serves
    |Q|·rescore·k point lookups.  Codebooks (IVF + m PQ) are
    driver-sized literals.
    """
    from pyspark.sql import Window

    cells = ivf_assign(emb, n_centroids, id_col, vec_col, n_iters)
    if books is None:
        books = pq_codebooks(
            emb, m=m, k=pq_k, n_iters=pq_iters,
            id_col=id_col, vec_col=vec_col,
        )
    sub = len(books[0][0][1])
    codes = F.array(
        *[
            _argmin_l2_cell(f"slice(v, {j * sub + 1}, {sub})", books[j])
            for j in range(len(books))
        ]
    )
    cand = cells.select(
        F.col(id_col).alias("neighbor_id"),
        "cell",
        F.col("nrm").alias("xn"),
        codes.alias("codes"),
    )
    q = cells.filter(F.col(id_col) < query_ids_max).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("cell"),
    )
    luts = []
    for j, book in enumerate(books):
        qslice = f"slice(qv, {j * sub + 1}, {sub})"
        arr = ", ".join(
            _dot_sql(qslice, _arr_sql(cv))
            for _c_id, cv, _cn in sorted(book, key=lambda c: c[0])
        )
        luts.append(f"element_at(array({arr}), codes[{j}] + 1)")
    adc = " + ".join(f"({x})" for x in luts)
    coarse = (
        cand.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .withColumn("qcos", F.expr(adc) / (F.col("qn") * F.col("xn")))
        .withColumn(
            "qrn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("qcos"), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("qrn") <= rescore * k)
    )
    full = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    exact = (
        coarse.select("q_id", "neighbor_id", "qv", "qn")
        .join(full, "neighbor_id")
        .withColumn(
            "cos", dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos", "rn")
    )


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    n_candidates: int = 12,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: retrieve ``n_candidates``
    exact-cosine candidates per query, then greedily select ``k`` of
    them maximizing  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)  —
    the classic diversity re-ranker that stops a result list from
    being k near-copies of the same document (Carbonell & Goldstein
    1998).  The first pick is pure relevance; ties break on the
    smaller id.

    Determinism: rel and candidate-pair sims are the engine-exact
    left-fold cosine values ROUNDED to 6 decimals before the
    iteration, so every engine computes the identical greedy
    trajectory (each round's score is one multiply+subtract over
    identical doubles).

    Output: (q_id, rank, neighbor_id, score) — rank 1..k in selection
    order, score the RAW MMR objective at selection time (round it in
    the presentation layer; Python's banker's rounding differs from
    engine ROUND on half-way values, so the op does not round).

    100 TB: retrieval is :func:`brute_force_topk`'s broadcast-query
    corpus scan (swap in the IVF/PQ paths upstream for the
    approximate tiers); everything after operates on per-query
    candidate sets — the pair-sim relation is |Q|·n² rows and the
    greedy loop runs per query inside ONE Arrow cogroup batch
    (bounded by n_candidates, never corpus-sized).
    """
    import pandas as pd

    cand = brute_force_topk(emb, queries, n_candidates, id_col, vec_col)
    rel = cand.select(
        "q_id", "neighbor_id", F.round("cos", 6).alias("rel6")
    )
    vecs = emb.select(
        F.col(id_col).alias("__vid"), as_double(vec_col).alias("__v")
    ).withColumn("__n", norm(F.col("__v")))
    ca = rel.select(
        F.col("q_id").alias("qa"), F.col("neighbor_id").alias("a")
    ).join(
        vecs.select(
            F.col("__vid").alias("a"),
            F.col("__v").alias("__va"),
            F.col("__n").alias("__na"),
        ),
        "a",
    )
    cb = rel.select(
        F.col("q_id").alias("qb"), F.col("neighbor_id").alias("b")
    ).join(
        vecs.select(
            F.col("__vid").alias("b"),
            F.col("__v").alias("__vb"),
            F.col("__n").alias("__nb"),
        ),
        "b",
    )
    sims = (
        ca.join(cb, ca["qa"] == cb["qb"])
        .filter(F.col("a") != F.col("b"))
        .select(
            F.col("qa").alias("q_id"), "a", "b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("sim6"),
        )
    )
    lam_f = float(lam)
    kk = int(k)

    def pick(key, cand_pdf: pd.DataFrame, sims_pdf: pd.DataFrame):
        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["q_id", "rank", "neighbor_id", "score"]
            )
        qid = cand_pdf["q_id"].iloc[0]
        rel_m = dict(zip(cand_pdf["neighbor_id"], cand_pdf["rel6"]))
        sim_m = {
            (a, b): s
            for a, b, s in zip(sims_pdf["a"], sims_pdf["b"], sims_pdf["sim6"])
        }
        remaining = set(rel_m)
        selected, out = [], []
        while remaining and len(selected) < kk:
            best = None
            for c in remaining:
                if selected:
                    ms = max(sim_m.get((c, s), 0.0) for s in selected)
                    score = lam_f * rel_m[c] - (1.0 - lam_f) * ms
                else:
                    score = rel_m[c]
                if best is None or score > best[0] or (
                    score == best[0] and c < best[1]
                ):
                    best = (score, c)
            selected.append(best[1])
            remaining.discard(best[1])
            out.append((qid, len(selected), best[1], best[0]))
        return pd.DataFrame(
            out, columns=["q_id", "rank", "neighbor_id", "score"]
        )

    # Output id types follow the candidate relation (q_id from the
    # queries side, neighbor_id from emb's id_col) — hardcoding long
    # broke string/non-long vector ids at runtime (ADVICE r7).
    out_schema = T.StructType(
        [
            T.StructField("q_id", cand.schema["q_id"].dataType),
            T.StructField("rank", T.LongType()),
            T.StructField(
                "neighbor_id", cand.schema["neighbor_id"].dataType
            ),
            T.StructField("score", T.DoubleType()),
        ]
    )
    return (
        rel.groupBy("q_id")
        .cogroup(sims.groupBy("q_id"))
        .applyInPandas(pick, out_schema)
    )
