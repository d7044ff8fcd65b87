"""Corpus curation operators for training-data pipelines: benchmark
decontamination, stratified sampling, token-budget selection.

All three are standard steps between raw dedup and training-set
export.  Spark-first: shingle joins and window cumsums, no Python in
the hot path; the only nondeterminism (sampleBy) is seeded.

Scale notes (100 TB):
- decontamination: shingle inverted-join — the moved data is (hash,
  doc_id) pairs for the *benchmark* side (tiny) semi-joined against the
  train side's shingles; never a doc×doc product.
- stratified sampling: per-stratum Bernoulli — narrow map.
- token budgeting: one shuffle on the group key + per-group running
  sum; selection is a filter on the cumsum, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.pipeline.dedup import ws_tokens
from pigout_spark.pipeline.iterate import checkpoint


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, md5-hash of each n-token shingle).  Token runs shorter than
    ``n`` produce no shingles (standard n-gram convention)."""
    toks = ws_tokens(text_col, distinct=False)
    # shingle i = tokens[i, i+n); guard short docs (sequence(0,-1) would
    # count DOWN, not produce an empty array)
    idxs = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idxs, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    return df.select(
        F.col(id_col), F.explode(shingles).alias("sh")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: drop training docs sharing ANY
    ``n``-token shingle with the benchmark corpus (the standard 13-gram
    rule from LLM training-set hygiene).

    Inverted-index formulation: benchmark shingle hashes (small side,
    distinct) anti-joined against the train side's shingles — one
    shuffle on the shingle hash, never doc×doc.  Returns the surviving
    train rows."""
    bid = bench_id_col or id_col
    btext = bench_text_col or text_col
    bench_sh = (
        _shingle_hashes(benchmark, bid, btext, n).select("sh").distinct()
    )
    train_sh = _shingle_hashes(train, id_col, text_col, n)
    contaminated = (
        train_sh.join(bench_sh, "sh").select(id_col).distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (e.g. downweight one source or
    language): strata absent from ``fractions`` are DROPPED (explicit
    mixture design — pass 1.0 to keep a stratum whole).  Seeded for
    reproducible mixtures; narrow map, no shuffle."""
    return df.sampleBy(stratum_col, fractions, seed)


def token_budget_select(
    df: DataFrame,
    group_col: str,
    budget: int,
    order_col: str | Column,
    text_col: str = "text",
    ascending: bool = False,
) -> DataFrame:
    """Select documents per group (source, language, …) until a token
    budget is reached: order each group by ``order_col`` (e.g. a quality
    score, best-first by default), take docs while the running token sum
    stays within ``budget``.  A doc that crosses the budget line is
    excluded (strict budget).

    One shuffle on the group key; the running sum is a per-group window
    cumsum — no global ordering, no collect.  Deterministic given a
    total order (break ties in ``order_col`` upstream or pass a compound
    Column)."""
    oc = F.col(order_col) if isinstance(order_col, str) else order_col
    oc = oc.asc() if ascending else oc.desc()
    ntok = F.size(ws_tokens(text_col, distinct=False)).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(oc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__ntok", ntok)
        .withColumn("__cum", F.sum("__ntok").over(w))
        .filter(F.col("__cum") <= budget)
        .drop("__ntok", "__cum")
    )


def shuffle_deterministic(
    df: DataFrame,
    key_cols: list[str],
    seed: str = "0",
    out: str = "shuffle_rank",
) -> DataFrame:
    """Deterministic global SHUFFLE for training-set export: order rows
    by ``md5(seed || key)`` and stamp the 1-based shuffle position —
    the step after packing that fixes the (reproducible) sample order a
    training run will consume.

    Seeded and engine-neutral (md5 — any engine derives the identical
    permutation, so the order itself is oracle-checkable); changing
    ``seed`` gives an independent permutation without touching data.

    100 TB: the hash sort is Spark's sample-based RANGE partition —
    uniformly distributed keys (md5) make the ranges perfectly
    balanced, so this is the best-case total order; the rank stamp
    rides :func:`~pigout_spark.operators.sorting.row_rank`'s two-pass
    counter (no single-partition window over data rows).
    """
    from pigout_spark.operators.sorting import row_rank

    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in key_cols
        ],
    )
    return row_rank(
        df.withColumn("__skey", F.md5(key)), "__skey", out=out
    ).drop("__skey")


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    target_weights: dict[str, float],
    target_rows: int,
    id_cols: list[str],
    seed: str = "0",
) -> DataFrame:
    """Domain-MIXTURE sampling: draw a training set whose composition
    matches ``target_weights`` (domain → fraction, normalized here) at
    ``target_rows`` total size — the "mix sources by recipe" step every
    pretraining corpus build runs (news×0.3, web×0.5, code×0.2, …).

    Per-domain Bernoulli rate r_d = min(1, w_d·T / n_d), realized as a
    DETERMINISTIC md5 threshold over ``id_cols`` (the hash_sample
    discipline: NULL-safe ``\\x00``-sentinel key, uniform on [0, 2^32)
    from the first 8 hex chars) — reproducible across engines and runs,
    no RNG state.  A domain missing from ``target_weights`` is dropped
    (explicit recipe, like ``stratified_sample``); an UNDERWEIGHT domain
    (n_d < w_d·T) is kept whole — the standard mixture fallback (rate
    caps at 1; upsampling is a separate epoch-repeat concern).  Output
    size is Binomial-concentrated around min(n_d, w_d·T) per domain.

    100 TB: the per-domain counts are a domain-cardinality-sized
    aggregate (tiny) broadcast back onto the corpus; selection itself is
    a narrow map (hash + threshold compare) — no corpus shuffle at all.
    """
    total_w = sum(target_weights.values())
    rates = {d: w / total_w for d, w in target_weights.items()}
    counts = (
        df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__nd"))
    )
    rate_expr = F.coalesce(
        *[
            F.when(
                F.col(domain_col) == F.lit(d),
                F.least(
                    F.lit(1.0),
                    F.lit(float(frac) * target_rows) / F.col("__nd"),
                ),
            )
            for d, frac in rates.items()
        ],
        F.lit(-1.0),  # domain not in the recipe → dropped
    )
    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .withColumn("__rate", rate_expr)
        .filter(u < F.col("__rate"))
        .drop("__nd", "__rate")
    )


#: Vocabulary-type ceiling for broadcasting the DSIR weight table
#: (r15, ADVICE r14).  A weight row is a token string + one double
#: (~50-100 B framed), so 5M types is a few hundred MB — comfortably
#: inside driver/executor memory on any reasonable deployment and far
#: under Spark's 8 GB / 512M-row broadcast hard cap, while real noisy
#: web vocabularies (10^8+) correctly fall back to the shuffle-hash
#: path.  A ROW bound, not a local[32] byte tuning.
_DSIR_BROADCAST_MAX_TYPES = 5_000_000


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    target_text_col: str | None = None,
) -> DataFrame:
    """Data-selection IMPORTANCE WEIGHTS (the DSIR recipe with unigram
    features): score every corpus doc by how much more likely its
    tokens are under a TARGET-domain language model than under the
    corpus model — ``log w(x) = Σ_tok [ln p_t(tok) − ln p_c(tok)]``,
    both unigram models Laplace-smoothed (``+α`` over the joint
    vocabulary) so unseen tokens stay finite.  High log-weight docs
    "look like the target" (e.g. Wikipedia, a benchmark's domain);
    feed the output to :func:`importance_resample` for the draw.

    Output: (id, log_weight, n_tokens); zero-token docs are dropped
    (no evidence either way).

    100 TB: the target corpus is typically small (a quality reference
    set) — its frequency table is vocabulary-sized either way.  The
    corpus side pays one explode + groupBy(token) (map-side combine)
    for its own model, one token-keyed join of its token stream
    against the two frequency tables (broadcast when vocabulary-sized,
    shuffle otherwise; stopword skew → AQE), and one groupBy(doc).
    Scalars (N_c, N_t, |V|) ride a broadcast single-row frame — no
    driver collect in the data path.
    """
    from pigout_spark.pipeline.dedup import ws_tokens

    ttext = target_text_col or text_col
    ctoks = (
        corpus.select(F.col(id_col), F.explode(ws_tokens(text_col, distinct=False)).alias("__tok"))
    )
    # r14 (guide §2.4/§5): the two frequency tables are VOCAB-sized
    # (tiny next to the token stream) but feed three consumers each
    # (vocab count, N scalar, the scoring join) — without a
    # checkpoint Catalyst plans the full explode→groupBy subtree
    # once PER consumer (the before-plan held 44 HashAggregates and 14
    # parquet scans for this one operator).  Checkpointing caps each at
    # one computation; everything downstream of them is vocab-sized.
    cf = checkpoint(
        ctoks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__cf"))
    )
    tf_ = checkpoint(
        target.select(F.explode(ws_tokens(ttext, distinct=False)).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # r14 (guide §2.4): |V|, N_c and N_t in ONE aggregate over a full
    # outer join of the two per-token-distinct tables (the join IS the
    # vocabulary union; integer sums and the row count are exact, so
    # the three scalars are bit-identical to the former three-pass
    # union/distinct + two separate sums, which read each frequency
    # table twice).
    scalars = cf.join(tf_, "__tok", "full_outer").agg(
        F.count(F.lit(1)).cast("double").alias("__v"),
        F.sum("__cf").cast("double").alias("__nc"),
        F.sum("__tf").cast("double").alias("__nt"),
    )
    a = F.lit(float(alpha))
    lr = (
        F.log((F.coalesce(F.col("__tf"), F.lit(0)) + a) / (F.col("__nt") + a * F.col("__v")))
        - F.log((F.col("__cf") + a) / (F.col("__nc") + a * F.col("__v")))
    )
    # r14 (guide §1.2 step 1): evaluate the log-ratio once per token
    # TYPE (a vocab-sized projection folded together with the scalars),
    # not once per token OCCURRENCE, and join the stream against that
    # single weight table.  The per-occurrence addend is the identical
    # double for every occurrence of a type, so each doc's sum is over
    # the same multiset of values — bit-compatible with the previous
    # shape (and the DuckDB twin) under the query's ROUND-6 contract.
    wt = checkpoint(
        cf.join(tf_, "__tok", "left")
        .crossJoin(F.broadcast(scalars))
        .select("__tok", lr.alias("__lr"))
    )
    # r14 (guide §3.1): broadcast the WEIGHT side explicitly — it is
    # token-TYPE-sized (vocabulary; Heaps-law-bounded at any corpus
    # scale — the bigram_lm model-side convention, and that table is
    # strictly larger).  Without the hint the planner's estimate at
    # bench scale broadcast the exploded token STREAM (the side that
    # grows with data — plan-audited BuildLeft on the Generate), which
    # inverts exactly the side that stays small at 100 TB.
    # r15 (ADVICE r14 curation.py:309): the broadcast is GUARDED by the
    # actual type count — a noisy web-scale whitespace vocabulary
    # (typos, URLs, numbers) can reach 10^8..10^9 types, past Spark's
    # 8 GB / 512M-row broadcast hard cap.  The count is measured on the
    # materialized checkpoint (its first consumer would have paid that
    # materialization anyway, so the probe adds one cheap
    # read-the-blocks job, never a stats guess — LogicalRDD carries no
    # usable estimate).  Past the bound the join degrades to
    # SHUFFLE_HASH with the weight table as build side (per-partition
    # vocab slice — bounded), never to the planner's default, which is
    # what broadcast the token stream in the first place.
    if wt.count() <= _DSIR_BROADCAST_MAX_TYPES:
        wt = F.broadcast(wt)
    else:
        wt = wt.hint("shuffle_hash")
    scored = ctoks.join(wt, "__tok").select(F.col(id_col), "__lr")
    return scored.groupBy(id_col).agg(
        F.sum("__lr").alias("log_weight"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


def importance_resample(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    seed: str = "0",
    target_text_col: str | None = None,
) -> DataFrame:
    """Importance RESAMPLING: draw ``k`` docs without replacement with
    probability ∝ their importance weight — the Gumbel top-k trick
    (score = log w + Gumbel noise; the top-k by score IS the weighted
    draw), exactly DSIR's selection step.

    The Gumbel variate is DETERMINISTIC: u = (md5-prefix + 0.5)/2³²
    ∈ (0,1) from (seed, id) — the hash_sample discipline — then
    g = −ln(−ln u); identical draw in any engine, reproducible across
    runs, seed swaps give independent draws.  Output: (id, score)
    for the k selected docs.

    100 TB: weights as in :func:`importance_weights`; the top-k is
    TakeOrdered (per-partition heaps + driver merge of k·P rows) —
    no global sort, no single-partition window.
    """
    w = importance_weights(
        corpus, target, id_col, text_col, alpha, target_text_col
    )
    key = F.concat_ws(
        "|",
        F.lit(seed),
        F.coalesce(F.col(id_col).cast("string"), F.lit("\x00")),
    )
    u = (
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") + 0.5)
        / F.lit(4294967296.0)
    )
    gumbel = -F.log(-F.log(u))
    return (
        w.select(
            F.col(id_col),
            (F.col("log_weight") + gumbel).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def split_corpus(
    df: DataFrame,
    weights: dict[str, float],
    id_cols: list[str],
    seed: str = "0",
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test SPLIT: stamp every row with a split
    label drawn from ``weights`` (label → fraction, normalized here) by
    an md5-bucketed threshold over ``id_cols`` — the export-stage
    assignment every training run needs to be reproducible and
    engine-replayable (same discipline as ``hash_sample``/
    ``mixture_sample``: NULL-safe sentinel key, uniform u ∈ [0,1) from
    the first 8 md5 hex chars, cumulative-fraction intervals in the
    given dict order).

    Keyed on content-stable ids, the assignment survives reprocessing:
    a doc lands in the same split across pipeline versions unless the
    seed changes — the property that keeps eval sets uncontaminated
    over time.  A pure narrow map: no shuffle, no counts pass (splits
    are fraction-exact in expectation; use exact-count selection only
    when a split must be row-exact).
    """
    total = sum(weights.values())
    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )
    expr = None
    acc = 0.0
    labels = list(weights.items())
    for name, w in labels[:-1]:
        acc += w / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out, expr)


def split_by_cluster(
    df: DataFrame,
    clusters: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    seed: str = "0",
    out: str = "split",
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: key the :func:`split_corpus`
    assignment on the duplicate-CLUSTER id instead of the doc id, so
    every member of a near-dup cluster lands in the same split — the
    guard against eval contamination by near-copies of training docs
    (a doc-keyed split puts ~r·|cluster| of each dup family in test).

    ``clusters`` is a (id, cluster id) relation (``dedup_clusters``
    output); docs absent from it are singletons and key on their own
    id, which for cluster-representative ids equals the cluster keying
    — so the assignment is stable under re-clustering that only adds
    or removes singleton rows.

    100 TB: one id-keyed LEFT join against the cluster relation (pair-
    graph-sized — duplicate docs only, a small fraction of the corpus,
    broadcast-convertible by AQE), then split_corpus's pure narrow
    map.  No extra shuffle of the corpus.
    """
    c = clusters.select(
        F.col(id_col), F.col(cluster_col).alias("__ck")
    )
    j = df.join(c, id_col, "left").withColumn(
        "__ck", F.coalesce(F.col("__ck"), F.col(id_col))
    )
    return split_corpus(j, weights, ["__ck"], seed=seed, out=out).drop("__ck")


def sample_exact_n(
    df: DataFrame,
    n: int,
    id_cols: list[str],
    seed: str = "0",
    by: str | None = None,
) -> DataFrame:
    """EXACT-count deterministic random sample: exactly ``n`` rows
    (per ``by``-group if given), chosen by ranking on md5(seed‖key) —
    the "give me exactly 10k eval docs, reproducibly" primitive that
    Bernoulli sampling (fraction-exact only in expectation) can't
    provide.  Same hash discipline as ``hash_sample``: engine-
    replayable, seed swaps give independent draws, content-stable ids
    keep the draw stable across reprocessing.

    100 TB: grouped → one window rank per group key (partition bounded
    by group size); global → TakeOrdered top-n on the hash (per-
    partition heaps + driver merge of n·P rows — no global sort, no
    single-partition window).  Groups smaller than ``n`` are returned
    whole.
    """
    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    h = F.md5(key)
    if by is not None:
        w = Window.partitionBy(by).orderBy(h)
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .drop("__rk")
        )
    return df.withColumn("__h", h).orderBy("__h").limit(n).drop("__h")


def sample_weighted(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_cols: list[str],
    seed: str = "0",
    by: str | None = None,
) -> DataFrame:
    """WEIGHTED exact-count deterministic sample (Efraimidis–Spirakis
    A-ES): each row draws u = md5-uniform(seed‖id) ∈ (0,1) and ranks by
    key = u^(1/w); the top ``n`` keys are a weighted sample WITHOUT
    replacement where a row's inclusion probability is proportional to
    its weight — "take 10k docs biased toward high quality score,
    reproducibly".  Rows with NULL or non-positive weight are excluded
    (they have no place in the race).

    Determinism: u is the 60-bit md5 integer (+0.5)/2^60 — exact
    arithmetic; the only FP steps are one division and one pow, both
    replayed identically by the SQL twin (the x_ewma precedent
    established bit-stable pow across engines here).  Seed swaps give
    independent draws; content-stable ids keep the draw stable across
    reprocessing.

    100 TB: global → TakeOrdered top-n on the key (per-partition heaps,
    n·P driver merge — no global sort); grouped → one window rank per
    ``by`` group.
    """
    idk = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    h60 = F.conv(F.substring(F.md5(idk), 1, 15), 16, 10).cast("bigint")
    u = (h60.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    k = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__k", k)
    if by is not None:
        w = Window.partitionBy(by).orderBy(F.desc("__k"), *id_cols)
        return (
            eligible.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .drop("__rk", "__k")
        )
    return (
        eligible.orderBy(F.desc("__k"), *id_cols).limit(n).drop("__k")
    )


def vocab_kl(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """KL divergence D(A‖B) between the Laplace-smoothed unigram
    distributions of two corpora — the domain-shift diagnostic behind
    DSIR-style selection (how far is my candidate pool from the
    target?).  Smoothing over the JOINT vocabulary keeps every term's
    q strictly positive, so the divergence is always finite.

    Output: one row (kl_nats, n_terms, n_tokens_a, n_tokens_b).

    Determinism (oracle discipline): p·ln(p/q) per term is rounded to
    6 decimals (the repo's ln convention — libm vs JVM ln can differ
    in the last ulp) and summed through DECIMAL(20,6), which is exact
    and associative.

    100 TB: two token-count aggregations (map-side combined, shuffle
    bounded by each corpus's vocabulary) + one vocab-sized full outer
    join + a scalar reduce.  Nothing is ever doc×doc.
    """
    from pigout_spark.pipeline.dedup import ws_tokens

    def counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(ws_tokens(text_col, distinct=False)).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ca, cb = counts(corpus_a), counts(corpus_b)
    joint = ca.withColumnRenamed("c", "ca").join(
        cb.withColumnRenamed("c", "cb"), "tok", "full"
    ).select(
        "tok",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tots = joint.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    j = joint.crossJoin(F.broadcast(tots))
    p = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("v")).cast("double")
    q = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("v")).cast("double")
    term = F.round(p * F.log(p / q), 6).cast("decimal(20,6)")
    return j.agg(
        F.sum(term).cast("double").alias("kl_nats"),
        F.count(F.lit(1)).alias("n_terms"),
        F.max("na").alias("n_tokens_a"),
        F.max("nb").alias("n_tokens_b"),
    )


def shingle_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 13,
    k: int = 4096,
) -> DataFrame:
    """ESTIMATED n-gram shingle overlap between two corpora from KMV
    sketches — the cheap pre-check before :func:`decontaminate`.

    decontaminate's inverted anti-join is exact but touches every
    training shingle; this answers "is there ANY material overlap, and
    roughly how much" from two k-row sketches: one narrow
    distinct-shingle pass per side, then sketch-sized arithmetic
    (pipeline/sketches.py:kmv_jaccard).  The benchmark-side sketch can
    be PERSISTED once and re-checked against every candidate corpus
    with no rescan of either — run the exact pass only when the
    estimate is non-zero.

    Output: one row (n_merged, n_common, jaccard) over the DISTINCT
    shingle sets.  Exact below k (a benchmark's shingle set usually
    is); ~1/√k relative error above.
    """
    from pigout_spark.pipeline.sketches import kmv_build, kmv_jaccard

    def side(df: DataFrame, col: str) -> DataFrame:
        sh = _shingle_hashes(df.select(F.col(col)), col, col, n).select("sh")
        return kmv_build(sh, "sh", k=k)

    return kmv_jaccard(
        side(corpus, text_col),
        side(benchmark, bench_text_col or text_col),
        k=k,
    )


def kfold_assign(
    df: DataFrame,
    id_cols: list[str],
    k: int = 5,
    seed: str = "0",
    out: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: fold i ∈ [0, k) from the same
    md5-bucketed uniform the split/assignment family uses
    (:func:`split_corpus` discipline — NULL-safe sentinel key, u from
    the first 8 md5 hex chars), so folds are reproducible across runs,
    engines, and reprocessing, and every unit's fold is stable as the
    corpus grows.  fold = floor(u·k) with the u=1 edge impossible by
    construction (u < 1 exactly).

    Cross-validation usage: train = fold != i, eval = fold == i —
    both are narrow filters over the same stamped relation.  For
    leakage-safe folds over near-duplicate families, assign on the
    CLUSTER key (the split_by_cluster discipline), not the row id.

    A pure narrow map: no shuffle, no counts pass.
    """
    if int(k) < 2:
        raise ValueError(f"kfold_assign: k must be >= 2, got {k}")
    key = F.concat_ws(
        "|",
        F.lit(seed),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(4294967296.0)
    )
    return df.withColumn(out, F.floor(u * F.lit(int(k))).cast("bigint"))


def temperature_weights(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain mixing weights: w_d ∝ n_d^α — the
    standard multilingual/multi-source rebalancing rule (α = 1 is
    proportional, α → 0 uniform; pretraining recipes typically run
    α ∈ [0.2, 0.7] to keep head domains from drowning the tail).
    Feed the result straight into :func:`mixture_sample` as
    ``target_weights``.

    Determinism: each n_d^α term is ROUND-6 then summed as
    DECIMAL(20,6) (exact, order-free — the vocab_kl discipline), and
    each weight is ONE IEEE division ROUND-6.  At α = 0.5 the power is
    sqrt — correctly rounded in every IEEE engine, so the oracle
    replays it bit-for-bit; other α go through pow(), whose last ulp
    is engine-dependent (the term ROUND-6 absorbs it except at
    rounding boundaries — prefer α = 0.5 when hash-replaying).

    Output: (domain, n, w6) — one row per domain, Σ w6 ≈ 1.

    100 TB: one domain-cardinality-sized aggregate + a broadcast of
    the scalar total; never touches row data twice.
    """
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    if alpha == 0.5:
        p = F.sqrt(F.col("n").cast("double"))
    else:
        p = F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
    terms = counts.withColumn(
        "__t", (F.round(p, 6) + F.lit(0.0)).cast("decimal(20,6)")
    )
    tot = terms.agg(F.sum("__t").alias("__tot"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "domain",
            "n",
            (
                F.round(
                    F.col("__t").cast("double") / F.col("__tot").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("w6"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: n_h ∝ N_h·S_h —
    the sampling-design step before :func:`stratified_sample` when the
    goal is estimating a mean/total with minimum variance at a fixed
    budget (survey sampling's classic result; in a data pipeline: how
    many eval examples to draw per source so the overall quality
    estimate is tightest).  High-variance strata get more than their
    proportional share; near-constant strata almost none.

    ``value_col`` must be INTEGER-VALUED (cents — the trend_fit
    contract, asserted): per-stratum sums are DECIMAL-exact, the
    sample s.d. is one sqrt of an exact-input IEEE chain (correctly
    rounded in every engine), each weight term N_h·S_h is ROUND-6 and
    the cross-strata total folds as DECIMAL(30,6) (order-free — the
    temperature_weights shape; Spark's decimal floor scale of 6 keeps
    it exact).  Allocations are round(total_n·w_h/Σw) per stratum —
    they can differ from ``total_n`` by a few units (largest-remainder
    reconciliation is a driver-side concern at #strata size; the
    per-stratum rule is what distributes).  Single-row strata have
    undefined S_h and read alloc 0 with NULL sd6 (no variance signal —
    sample them by hand if they matter).

    Output: (stratum, n_rows, sd6, alloc).

    100 TB: ONE map-side-combined exchange to the #strata-sized moment
    relation; the weight total is a broadcast scalar.
    """
    if total_n < 1:
        raise ValueError(f"total_n must be >= 1, got {total_n}")
    v = F.col(value_col)
    d = df.filter(v.isNotNull() & F.col(stratum_col).isNotNull()).filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "neyman_allocation: values must be integral (cents, "
                "counts) — integerize upstream"
            ),
        ).isNull()
    )
    g = d.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(v.cast("bigint").cast("decimal(38,0)")).alias("__s"),
        F.sum((v.cast("bigint") * v.cast("bigint")).cast("decimal(38,0)"))
        .alias("__ss"),
    )
    n = F.col("n_rows").cast("double")
    var = (
        n * F.col("__ss").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double")
    ) / (n * (n - F.lit(1.0)))
    sd6 = F.when(
        F.col("n_rows") > 1,
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6) + F.lit(0.0),
    )
    terms = g.select(
        "stratum",
        "n_rows",
        sd6.alias("sd6"),
        F.coalesce(
            (F.round(n * sd6, 6) + F.lit(0.0)).cast("decimal(30,6)"),
            F.lit(0).cast("decimal(30,6)"),
        ).alias("__w"),
    )
    tot = terms.agg(F.sum("__w").alias("__tot"))
    alloc = F.when(
        F.col("__tot").cast("double") > 0,
        F.round(
            F.lit(float(total_n))
            * F.col("__w").cast("double")
            / F.col("__tot").cast("double"),
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return terms.crossJoin(F.broadcast(tot)).select(
        "stratum", "n_rows", "sd6", alloc.alias("alloc")
    )
