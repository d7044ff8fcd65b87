"""Deduplication operators for document corpora.

All hash functions are md5-based so results are deterministic and
engine-independent (verifiable against any SQL oracle) — no seeded
murmur3 or JVM-specific hashing in the semantics path.

Scale notes (100 TB):
- exact dedup: one shuffle on the fingerprint (map-side combine).
- MinHash+LSH: tokens→signatures is a groupBy(doc) shuffle; candidate
  generation joins on (band_index, band_hash) — band buckets are the
  join key, so work is proportional to collisions, never O(n²).
- n-gram Jaccard: inverted-index self-join on token; cap high-df tokens
  (``max_df``) to stop hub-token blowup — a stopword-frequency token
  contributes C(df,2) pairs.
- SimHash: two shuffles (doc×bit partial agg, then doc agg); fingerprint
  is a 16/32-bit int, cheap to bucket for Hamming-neighbor search.
"""

from __future__ import annotations

import random

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

#: Mersenne prime modulus for the MinHash permutation family.
MINHASH_P = 2_147_483_647


from pigout_spark.pipeline.iterate import (  # noqa: E402
    broadcast_threshold,
    checkpoint,
    decide,
    fixpoint,
    job_description,
    row_width,
)
from pigout_spark.plans.partitioning import pin_partitions as _pin_partitions  # noqa: E402


def minhash_perms(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for h_i(x) = (a·x + b) mod P.
    Base hash x is 28 bits (7 hex chars of md5) so a·x stays < 2^59 —
    exact in int64 in every engine."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def ws_tokens(text_col: Column | str, distinct: bool = True) -> Column:
    """Whitespace tokens, empty fragments dropped; the shared shingle
    base for the dedup family."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    arr = F.filter(F.split(c, " "), lambda t: t != F.lit(""))
    return F.array_distinct(arr) if distinct else arr


def exact_groups(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup groups: md5 fingerprint of the content columns →
    (fp, rep_id = min id, n_dups).  hash-groupBy, one shuffle."""
    fp = F.md5(F.concat_ws("\x1f", *content_cols)).alias("fp")
    return df.groupBy(fp).agg(
        F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row (lowest id) per exact-content group."""
    fp = F.md5(F.concat_ws("\x1f", *content_cols))
    w = Window.partitionBy(fp).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8
) -> DataFrame:
    """Deterministic MinHash via one base hash + a universal-hash family:

        x(tok) = int64 of the first 7 hex chars of md5(tok)   (28 bits)
        h_i(tok) = (a_i · x + b_i) mod P,  m_i = min over distinct tokens

    ONE md5 per token (the expensive op), then num_hashes cheap integer
    permutations folded into the groupBy's map-side partial min.  All
    arithmetic is exact int64 — engine-independent, SQL-mirrorable.
    Shuffle: (doc, token-hash) rows with partial aggregation — at scale
    the combiner reduces it to ~num_hashes longs per doc."""
    toks = df.select(F.col(id_col), F.explode(ws_tokens(text_col)).alias("tok"))
    x = F.expr("CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT)")
    hdf = toks.select(F.col(id_col), x.alias("x"))
    # one F.expr per permutation (not one py4j call per arithmetic op)
    aggs = [
        F.expr(f"min((x * {a}L + {b}L) % {MINHASH_P}L)").alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_perms(num_hashes))
    ]
    return hdf.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates: band the signature
    (``num_hashes/rows_per_band`` bands), bucket-join on
    (band_index, band_hash), emit distinct ordered pairs.

    The join key is the band bucket — never a cross join; candidate
    volume scales with true collisions (shingle→minhash→band→bucket-join).
    """
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    n_bands = num_hashes // rows_per_band
    bv = [
        F.expr(
            "md5(concat_ws('_', "
            + ", ".join(f"m{j * rows_per_band + r}" for r in range(rows_per_band))
            + "))"
        ).alias(f"bv{j}")
        for j in range(n_bands)
    ]
    sigb = sig.select(F.col(id_col), *bv)
    # Exactly-once emission: a pair colliding in several bands is emitted
    # only from the FIRST such band — each band row carries the prior
    # bands' values and the join filters out pairs that already collided
    # earlier.  Removes the whole DISTINCT shuffle over the (large)
    # candidate set; output is duplicate-free by construction.
    #
    # Stacked via ONE explode (not a unionAll of per-band selects): a
    # union duplicates the whole signature subtree per branch, and the
    # self-join doubles it again — explode keeps one subtree and the
    # join's identical shuffles become a ReusedExchange.
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {j}, 'bv', bv{j}, 'prior', "
            + ("array(" + ", ".join(f"bv{i}" for i in range(j)) + ")"
               if j else "array()")
            + ")"
            for j in range(n_bands)
        )
        + ")"
    )
    stacked = _pin_partitions(
        sigb.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
            id_col, "bk.band", "bk.bv", "bk.prior"
        ),
        "band",
        "bv",
    )
    left = stacked.alias("l")
    right = stacked.alias("r")
    no_prior_collision = ~F.exists(
        F.zip_with(F.col("l.prior"), F.col("r.prior"), lambda a, b: a == b),
        lambda x: x,
    )
    return left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bv") == F.col("r.bv"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        & no_prior_collision,
    ).select(
        F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
    )


def minhash_lsh_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """STAR-CONTRACTED MinHash+LSH candidate edges — the clustering
    front end (r14, guide §2.3: shuffle fewer bytes by changing the
    algorithm, not the engine).

    :func:`minhash_lsh_pairs` emits every cohabiting pair of a band
    bucket — a CLIQUE per bucket, O(|bucket|²) rows, which is the right
    relation when the pairs themselves are the product.  When the
    product is the duplicate CLUSTERS (connected components), the
    clique is redundant: a star (bucket-minimum doc ↔ every other
    member) has exactly the same transitive closure — every bucket
    member stays connected through the bucket minimum — at
    O(|bucket|) rows.  ``dedup_clusters(minhash_lsh_star_edges(...))``
    therefore produces BIT-IDENTICAL clusters to
    ``dedup_clusters(minhash_lsh_pairs(...))`` (pytest pins this on
    fuzzed corpora) while the edge relation drops from quadratic to
    linear in bucket size — at sf0.1 the fixture's 2.09 M pair edges
    become 13.5 k star edges, and a degenerate billion-doc bucket at
    corpus scale becomes a billion edges instead of a quintillion.

    Output: (doc_a, doc_b) with doc_a = the bucket's minimum id,
    doc_b ≠ doc_a a member; one row per (bucket, member), buckets with
    a single member emit nothing (no connectivity information).
    Duplicate (doc_a, doc_b) rows across buckets are NOT deduplicated
    — dedup_clusters is idempotent to parallel edges and the distinct
    would cost a full exchange.
    """
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    n_bands = num_hashes // rows_per_band
    bv = [
        F.expr(
            "md5(concat_ws('_', "
            + ", ".join(f"m{j * rows_per_band + r}" for r in range(rows_per_band))
            + "))"
        ).alias(f"bv{j}")
        for j in range(n_bands)
    ]
    sigb = sig.select(F.col(id_col), *bv)
    band_structs = F.expr(
        "array("
        + ", ".join(f"named_struct('band', {j}, 'bv', bv{j})" for j in range(n_bands))
        + ")"
    )
    # One checkpoint of the NARROW (id, band, bv) relation: it feeds
    # both consumers below, and without it each would re-plan the whole
    # signature subtree — doubling the md5-minhash fold, the dominant
    # pass of LSH at corpus scale (DataFrame plans share no subtrees,
    # the dedup_clusters lineage discipline).  ~50 B/row × n_bands
    # rows/doc — linear, scale-safe.
    stacked = checkpoint(
        sigb.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(id_col, "bk.band", "bk.bv")
    )
    # bucket minimum via a two-phase aggregation joined back (r15,
    # VERDICT r14 #6, guide §2.2/§2.5): the r14 shape was a
    # Window.partitionBy(band, bv) min, which lands an ENTIRE bucket in
    # one task with no partial aggregation and SORTS it — a degenerate
    # billion-doc bucket at corpus scale becomes one straggler core.
    # Now: groupBy(band, bv).min is map-side partial (the min relation
    # that crosses the wire is bucket-COUNT-sized, not member-sized),
    # and the member→root attachment is a shuffle-hash equi-join whose
    # streamed member side AQE's skew-join handling CAN split at
    # runtime (it applies to joins, never to windows; the exchange is
    # planner-inserted ENSURE_REQUIREMENTS, which is the origin AQE's
    # skew rule accepts — an explicit pinned repartition would have
    # blocked it).  The hint keys to the relation role: the build side
    # is the per-partition slice of distinct bucket keys — bounded at
    # any scale, never a broadcast.  Same rows by construction: every
    # member of a bucket pairs with that bucket's minimum, minus the
    # self-pair.
    mins = stacked.groupBy("band", "bv").agg(F.min(id_col).alias("__root"))
    return (
        stacked.join(mins.hint("shuffle_hash"), ["band", "bv"])
        .filter(F.col(id_col) != F.col("__root"))
        .select(F.col("__root").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )


#: Default document-frequency cap for the Jaccard inverted index.  A
#: token appearing in df docs contributes C(df, 2) join rows, so ONE
#: stopword-frequency token on a billion-doc corpus is quadrillions of
#: pairs — the guard must be on unless deliberately disabled.
DEFAULT_MAX_DF = 10_000


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """The persistable LSH index of a corpus: one row per (id, band,
    band-hash).  This is what an INCREMENTAL dedup pipeline stores —
    n_bands rows of a few bytes per document — so each day's new batch
    probes the index instead of re-minhashing the historical corpus
    (:func:`dedup_incremental`).  Parameters must match between index
    build and probe; they are not embedded per-row to keep the index
    lean — version them with the stored path."""
    if num_hashes % rows_per_band:
        raise ValueError("num_hashes must be divisible by rows_per_band")
    sig = minhash_signature(df, id_col, text_col, num_hashes)
    n_bands = num_hashes // rows_per_band
    bv = [
        F.expr(
            "md5(concat_ws('_', "
            + ", ".join(
                f"m{j * rows_per_band + r}" for r in range(rows_per_band)
            )
            + "))"
        ).alias(f"bv{j}")
        for j in range(n_bands)
    ]
    arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"), F.col(f"bv{j}").alias("bv")
            )
            for j in range(n_bands)
        ]
    )
    return (
        sig.select(F.col(id_col), *bv)
        .select(F.col(id_col), F.explode(arr).alias("b"))
        .select(id_col, "b.band", "b.bv")
    )


def dedup_incremental(
    new_df: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    rows_per_band: int = 8,
) -> DataFrame:
    """Incremental near-dup dedup: the rows of ``new_df`` that do NOT
    LSH-collide with an existing corpus — the daily-ingest primitive
    (batch vs corpus, not batch vs itself; compose with
    :func:`minhash_lsh_pairs` on the survivors for intra-batch dups).
    ``corpus_bands`` is a stored :func:`lsh_band_index` relation (or
    one built inline from a corpus DataFrame upstream).

    100 TB: one equi-join of the new batch's bands (n_bands rows/doc)
    against the index on (band, bv) — LEFT SEMI to find collisions,
    then LEFT ANTI on the id.  The historical corpus text is never
    read, never shuffled; the index is the only state, and AQE
    broadcast-converts the batch side when a day's batch is small.
    """
    nb = lsh_band_index(new_df, id_col, text_col, num_hashes, rows_per_band)
    hits = (
        nb.join(
            corpus_bands.select("band", "bv"), ["band", "bv"], "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact token-set Jaccard over an inverted-index self-join.

    |A∩B| from the token join, |A| and |B| from per-doc token counts;
    jaccard = inter / (|A| + |B| - inter).  ``max_df`` drops tokens that
    appear in more than that many docs before pairing (each such token
    costs C(df, 2) join rows — the 100 TB guard).  ON BY DEFAULT
    (``DEFAULT_MAX_DF``); pass ``max_df=None`` to deliberately disable
    on corpora known to have no hub tokens.  Note dropping a token
    shrinks the affected docs' token sets, so reported Jaccard values
    are over the capped vocabulary.

    Whether the cap actually bites on a given corpus is measurable, not
    silent: run ``jaccard_maxdf_stats`` (same tokenization, one cheap
    aggregate) before committing to a threshold — it reports how many
    distinct tokens the cap would drop and the observed max df.

    Candidate generation is PPJoin-style prefix+length filtered (the
    naive inverted index emits a row per shared token — C(df,2) per
    token — then thresholds AFTER the shuffle):

    - canonical token order: sort by (md5(tok), tok) — engine-neutral,
      uniform, and computed in a narrow map (no global df ordering
      needed; random order loses a little prefix selectivity but costs
      nothing);
    - prefix filter: only the first ⌊(1−t)·|d|⌋+1 tokens of each doc
      are indexed — any pair with jac ≥ t must share a prefix token
      (if all common tokens sat past A's prefix, overlap ≤ |A| −
      prefix_A < t·|A| ≤ required overlap — contradiction);
    - length filter: jac ≥ t ⟹ t·max(|A|,|B|) ≤ min(|A|,|B|),
      applied inside the join condition before anything shuffles on;
    - verification: candidates join back to the full token arrays and
      the exact |A∩B| comes from array_intersect — same output as the
      naive index, strictly fewer candidate rows.
    """
    arr = df.select(F.col(id_col), ws_tokens(text_col).alias("__toks"))
    if max_df is not None:
        toks = arr.select(F.col(id_col), F.explode("__toks").alias("tok"))
        dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        # hub tokens are FEW by definition (df > max_df) — broadcast the
        # dropped set as one aggregated row and subtract it narrowly,
        # keeping the doc's token array intact for verification
        dropped = dfreq.filter(F.col("df") > max_df).agg(
            F.collect_list("tok").alias("__dropped")
        )
        arr = arr.crossJoin(F.broadcast(dropped)).select(
            F.col(id_col),
            F.array_except("__toks", F.coalesce("__dropped", F.array())).alias(
                "__toks"
            ),
        )
    sized = arr.select(
        F.col(id_col), "__toks", F.size("__toks").alias("sz")
    ).filter(F.col("sz") > 0)
    # prefix length p = ⌊(1−t)·sz⌋+1 under canonical (md5, tok) order;
    # +1e-9 guards float error at exact-integer boundaries (can only
    # ENLARGE the prefix — conservative, never misses a pair)
    prefix = sized.select(
        F.col(id_col),
        "sz",
        F.explode(
            F.slice(
                F.expr("transform(sort_array(transform(__toks, "
                       "t -> struct(md5(t) AS h, t AS tok))), s -> s.tok)"),
                F.lit(1),
                (F.floor((1.0 - threshold) * F.col("sz") + 1e-9) + 1).cast("int"),
            )
        ).alias("tok"),
    )
    prefix = _pin_partitions(prefix, "tok")
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: jac(a,b) ≤ min/max, so max·t ≤ min is necessary;
            # +1e-9 mirrors the prefix-length guard (IEEE rounding can push
            # t·max just above an integer, e.g. 0.7*10 = 7.000000000000001 —
            # the slack only ADMITS extra candidates, which the exact
            # `jac >= threshold` verification below then filters)
            & (
                F.greatest(F.col("a.sz"), F.col("b.sz")) * threshold
                <= F.least(F.col("a.sz"), F.col("b.sz")) + 1e-9
            ),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.first(F.col("a.sz")).alias("na"), F.first(F.col("b.sz")).alias("nb"))
    )
    ta = sized.select(F.col(id_col).alias("doc_a"), F.col("__toks").alias("__ta"))
    tb = sized.select(F.col(id_col).alias("doc_b"), F.col("__toks").alias("__tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("__ta", "__tb")))
        .withColumn(
            "jac", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact token-set CONTAINMENT pairs — Broder's asymmetric
    near-dup measure c = |A∩B| / |A| with A the SMALLER doc: "is the
    small document (near-)subsumed by the big one".  Jaccard misses
    exactly this case (a tweet quoted inside an article scores tiny
    Jaccard but containment ≈ 1), and subsumption is the common shape
    of boilerplate, quotation, and version-extended duplicates in a
    training corpus.

    Candidate generation: the prefix filter applies to the SMALL side
    only (c ≥ t needs overlap ≥ t·|A|, so A must share one of its
    first ⌊(1−t)·|A|⌋+1 canonical-order tokens — the ppjoin argument
    verbatim), while the big side indexes its FULL token set (no
    length-ratio bound exists for containment — B may be any size).
    Join volume is Σ_tok prefix_df·df, which ``max_df`` bounds exactly
    as in :func:`ngram_jaccard_pairs` (ON BY DEFAULT; containment is
    then over the capped vocabulary, same caveat).  Orientation
    (smaller=a) is decided INSIDE the join condition ((sz, id)
    lexicographic — deterministic for equal sizes); verification joins
    both full arrays and computes the exact intersection.

    Output: (doc_small, doc_big, containment) for pairs ≥ threshold.

    100 TB: one (tok) equi-join shuffle whose volume the prefix+max_df
    filters bound; verification is candidate-sized.  The same
    `_pin_partitions` guard as the other pair joins (AQE sizes by
    input, these amplify on output).
    """
    arr = df.select(F.col(id_col), ws_tokens(text_col).alias("__toks"))
    if max_df is not None:
        toks0 = arr.select(F.col(id_col), F.explode("__toks").alias("tok"))
        dfreq = toks0.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        dropped = dfreq.filter(F.col("df") > max_df).agg(
            F.collect_list("tok").alias("__dropped")
        )
        arr = arr.crossJoin(F.broadcast(dropped)).select(
            F.col(id_col),
            F.array_except("__toks", F.coalesce("__dropped", F.array())).alias(
                "__toks"
            ),
        )
    sized = arr.select(
        F.col(id_col), "__toks", F.size("__toks").alias("sz")
    ).filter(F.col("sz") > 0)
    prefix = sized.select(
        F.col(id_col),
        "sz",
        F.explode(
            F.slice(
                F.expr("transform(sort_array(transform(__toks, "
                       "t -> struct(md5(t) AS h, t AS tok))), s -> s.tok)"),
                F.lit(1),
                (F.floor((1.0 - threshold) * F.col("sz") + 1e-9) + 1).cast("int"),
            )
        ).alias("tok"),
    )
    full = sized.select(
        F.col(id_col), "sz", F.explode("__toks").alias("tok")
    )
    prefix = _pin_partitions(prefix, "tok")
    full = _pin_partitions(full, "tok")
    a = prefix.alias("a")
    b = full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                )
            ),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_small"),
            F.col(f"b.{id_col}").alias("doc_big"),
        )
        .agg(F.first(F.col("a.sz")).alias("na"))
    )
    ta = sized.select(F.col(id_col).alias("doc_small"), F.col("__toks").alias("__ta"))
    tb = sized.select(F.col(id_col).alias("doc_big"), F.col("__toks").alias("__tb"))
    return (
        cand.join(ta, "doc_small")
        .join(tb, "doc_big")
        .withColumn("inter", F.size(F.array_intersect("__ta", "__tb")))
        .withColumn("containment", F.col("inter") / F.col("na"))
        .filter(F.col("containment") >= threshold)
        .select("doc_small", "doc_big", "containment")
    )


def jaccard_maxdf_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int = DEFAULT_MAX_DF,
) -> DataFrame:
    """One-row report of what ``ngram_jaccard_pairs``'s df-cap would do
    on this corpus: ``dropped_tokens`` (distinct tokens with df >
    ``max_df``), ``max_observed_df``, ``affected_rows`` (token
    occurrences removed).  Same tokenization as the pair join; one
    groupBy — run it when a silent vocabulary cap would be a semantics
    concern (the cap changes reported Jaccard values wherever it bites).
    """
    toks = df.select(F.explode(ws_tokens(text_col)).alias("tok"))
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).agg(
        F.count(F.when(F.col("df") > max_df, 1)).alias("dropped_tokens"),
        F.max("df").alias("max_observed_df"),
        F.coalesce(
            F.sum(F.when(F.col("df") > max_df, F.col("df"))), F.lit(0)
        ).alias("affected_rows"),
    )


def embedding_cosine_dups(
    df: DataFrame,
    planes: list,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: candidate pairs restricted to
    a shared hyperplane-LSH bucket, exact cosine ≥ threshold within the
    bucket.  The bucket code is the join key — shuffle-by-bucket, never
    O(n²) over the corpus (pipeline/similarity.py machinery).

    Scale knobs:
    - ``planes`` is either one plane list (single 2^p-bucket code) or a
      list of BANDS (each a plane list): with multiple independent
      codes, a pair is a candidate if it shares ANY band's bucket —
      recall rises with bands at linear candidate cost, and each band's
      buckets stay small (the C(n_bucket, 2) blowup of one coarse code).
      Exactly-once emission via the prior-bands device (as in
      minhash_lsh_pairs) — no DISTINCT over candidates.
    - ``max_bucket`` drops (band, bucket) groups larger than the cap
      before pairing — a skew guard: one degenerate bucket (e.g. the
      all-zeros region) otherwise contributes C(n, 2) pairs.
    """
    from pigout_spark.pipeline.similarity import as_double, dot, lsh_bucket, norm

    bands = planes if isinstance(planes[0][0], list) else [planes]
    codes = [
        lsh_bucket(vec_col, bands[j]).alias(f"c{j}")
        for j in range(len(bands))
    ]
    b = df.select(F.col(id_col), as_double(vec_col).alias("v"), *codes).withColumn(
        "nrm", norm(F.col("v"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.col(f"c{j}").alias("code"),
                F.array(*[F.col(f"c{i}") for i in range(j)]).alias("prior"),
            )
            for j in range(len(bands))
        ]
    )
    stacked = b.select(
        F.col(id_col), "v", "nrm", F.explode(band_structs).alias("bk")
    ).select(id_col, "v", "nrm", "bk.band", "bk.code", "bk.prior")
    if max_bucket is not None:
        small = (
            stacked.groupBy("band", "code")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "code")
        )
        stacked = stacked.join(F.broadcast(small), ["band", "code"])
    stacked = _pin_partitions(stacked, "band", "code")
    left = stacked.alias("l")
    right = stacked.alias("r")
    no_prior_collision = ~F.exists(
        F.zip_with(F.col("l.prior"), F.col("r.prior"), lambda a, b: a == b),
        lambda x: x,
    )
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.code") == F.col("r.code"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        & no_prior_collision,
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        (dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nrm") * F.col("r.nrm"))).alias(
            "cos"
        ),
    )
    return pairs.filter(F.col("cos") >= threshold)


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """SimHash near-duplicate search: pairs with Hamming(simhash) ≤
    ``max_hamming``, found via pigeonhole block bucketing — never an
    all-pairs comparison.

    The fingerprint is split into ``max_hamming + 1`` equal bit blocks;
    any pair within the Hamming radius must agree exactly on at least one
    block, so candidates come from an equi-join on (block_idx,
    block_value).  Exactly-once emission: a pair agreeing on several
    blocks is emitted only from the first such block (each block row
    carries the earlier blocks' values — same device as
    minhash_lsh_pairs, no DISTINCT shuffle).  At 100 TB the shuffle is
    proportional to docs × n_blocks and candidate volume to true block
    collisions."""
    n_blocks = max_hamming + 1
    if bits % n_blocks:
        raise ValueError("bits must be divisible by max_hamming + 1")
    bb = bits // n_blocks
    mask = (1 << bb) - 1
    fp = simhash16(df, id_col, text_col)

    def blk(j: int) -> Column:
        return F.shiftright(F.col("simhash"), bb * j).bitwiseAND(F.lit(mask))

    block_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("blk"),
                blk(j).alias("val"),
                F.array(*[blk(i) for i in range(j)]).alias("prior"),
            )
            for j in range(n_blocks)
        ]
    )
    stacked = _pin_partitions(
        fp.select(
            F.col(id_col), F.col("simhash"), F.explode(block_structs).alias("b")
        ).select(id_col, "simhash", "b.blk", "b.val", "b.prior"),
        "blk",
        "val",
    )
    left = stacked.alias("l")
    right = stacked.alias("r")
    no_prior_collision = ~F.exists(
        F.zip_with(F.col("l.prior"), F.col("r.prior"), lambda a, b: a == b),
        lambda x: x,
    )
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        left.join(
            right,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & no_prior_collision,
        )
        .filter(ham <= max_hamming)
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


#: bit-sliced SimHash packing: 3 popcount fields of 20 bits per long.
#: Field width bounds tokens-per-doc at 2^20-1 (≈1M whitespace tokens ≈
#: 6 MB of text) — beyond that, chunk the document first.
_SH_FIELDS, _SH_FW = 3, 20


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens (with multiplicity).

    Per token: a 32-bit value from the first 8 hex chars of md5; each of
    the 16 low bits contributes ±1; fingerprint bit b = sign of the sum.
    Returns (id, simhash int) for docs with ≥1 token (the Q/oracle
    convention — token-less docs have no votes).  Near-dup search
    buckets these fingerprints (simhash_hamming_pairs).

    ZERO-shuffle formulation: SimHash is doc-local, so instead of
    explode→groupBy (two exchanges) the whole fingerprint folds over the
    token array in one narrow map — one md5 per token (transform), then
    a bit-sliced fold packing the 16 popcounts into 6 longs (3 fields ×
    20 bits each; caps docs at 2^20-1 ≈ 1M tokens — chunk beyond that).
    Fingerprint bit b: pop_b·2 > n ⟺ the ±1 vote sum is positive,
    exactly the semantics the SQL oracle states.  At 100 TB this runs at
    scan speed with no exchange at all."""
    n_groups = -(-16 // _SH_FIELDS)  # 6
    mask = (1 << _SH_FW) - 1

    # The whole fingerprint compiles as ONE SQL string (F.expr parses it
    # JVM-side in a single py4j call) — the Column-combinator form built
    # ~300 expression nodes through py4j and cost ~0.4 s of plan
    # construction per query.  The parsed Catalyst tree is identical.
    def pack_sql(g: int) -> str:
        terms = []
        for r in range(_SH_FIELDS):
            b = g * _SH_FIELDS + r
            if b >= 16:
                break
            terms.append(f"shiftleft(shiftright(h, {b}) & 1L, {_SH_FW * r})")
        return " + ".join(terms)

    acc0 = ", ".join(f"'p{g}', 0L" for g in range(n_groups))
    step = ", ".join(f"'p{g}', acc.p{g} + ({pack_sql(g)})" for g in range(n_groups))
    fold_sql = (
        f"aggregate(transform(__toks, t -> "
        f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)), "
        f"named_struct({acc0}), (acc, h) -> named_struct({step}))"
    )
    fp_terms = []
    for b in range(16):
        g, r = divmod(b, _SH_FIELDS)
        fp_terms.append(
            f"(CASE WHEN (shiftright(acc.p{g}, {_SH_FW * r}) & {mask}L) * 2 > n "
            f"THEN {1 << b} ELSE 0 END)"
        )
    fp_sql = "CAST(" + " + ".join(fp_terms) + " AS BIGINT)"

    # Enforce the field-width cap (docstring): a doc with ≥2^20 tokens
    # would overflow its 20-bit popcount field into the neighbor and
    # silently corrupt the fingerprint — fail the job instead.
    # assert_true returns NULL on success, so the filter keeps every row
    # and cannot be pruned (same device as operators.relational.assert_by).
    cap_ok = F.assert_true(
        F.size("__toks") < F.lit(1 << _SH_FW),
        F.lit(
            f"simhash16: document exceeds {(1 << _SH_FW) - 1} tokens; "
            "chunk the document before fingerprinting"
        ),
    ).isNull()
    return (
        df.select(F.col(id_col), ws_tokens(text_col, distinct=False).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .filter(cap_ok)
        .select(
            F.col(id_col),
            F.size("__toks").cast("long").alias("n"),
            F.expr(fold_sql).alias("acc"),
        )
        .select(F.col(id_col), F.expr(fp_sql).alias("simhash"))
    )


def dedup_clusters(
    pairs: DataFrame,
    left: str = "doc_a",
    right: str = "doc_b",
    out_id: str = "doc_id",
    out_root: str = "cluster_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair graph → (doc, cluster)
    with ``cluster_id`` = the smallest doc id in the component.  The
    step every pair generator above feeds: near-dup dedup keeps one doc
    per CLUSTER, not per pair (pair relations aren't transitive-closed).
    A NULL in ``left`` or ``right`` raises, naming the column: a NULL
    endpoint belongs to no component.

    The symmetric edge list is checkpointed first, eagerly.  When its
    rows fit Spark's broadcast threshold
    (``spark.sql.autoBroadcastJoinThreshold`` over
    :func:`~pigout_spark.pipeline.iterate.row_width` bytes a row, the
    package's one rule, :func:`~pigout_spark.pipeline.iterate.decide`)
    and the ids are integers or binary-collated strings, whose Python
    order is Spark's (code-point order is UTF-8 byte order), the
    components come from a union-find on the driver and the result is a
    local relation Spark knows the size of, so a join against it
    broadcasts.  The collect that decides reads the checkpoint in one
    task under the job description ``"dedup_clusters: collect edges"``
    and stops one row past the threshold.

    Otherwise min-label propagation with pointer jumping and parent
    hooking (after Shiloach–Vishkin, J. Algorithms 1982),
    driver-coordinated.  The state is ``(id, lbl, old)``, ``old`` being
    the label before the last round, so a node changed iff ``lbl <
    old`` — for any orderable id type.  The initial state is round 0
    (each node's label is the smallest of itself and its neighbors).
    Each further round sends:

    - a changed node's label along its edges (an unchanged node already
      delivered its label, and labels only shrink, so only the frontier
      sends);
    - to every node the label of its label's node (pointer jumping);
    - a changed node's new label to its old label's node (hooking: the
      old parent adopts the smaller root, so trees merge whole).

    Edges and pointers form ONE request relation joined once with the
    state on ``id``; one min-aggregate folds the answers, the hook rows
    and each node's own row.  It converges when no node changed; more
    than ``max_iter`` rounds raises rather than returning half-merged
    clusters; the rounds run under
    :func:`~pigout_spark.pipeline.iterate.fixpoint`, which checkpoints
    the state every round.  Measured rounds after round 0: 7 on a
    64-node chain with sorted ids, 12 with ids shuffled by
    ``random.Random(3)``; the sf0.1 MinHash pair graph of
    ``x_dedup_clusters`` (about 4.2 M directed edges) is above the
    default threshold and takes the loop.

    100 TB: the driver holds at most threshold / row width edge rows,
    no more than a broadcast of the edge list would hold, and returns
    no more nodes than those rows name.  A graph above the threshold
    pays the eager checkpoint one job earlier than the loop would have
    computed it, and a read of the stored blocks of its first
    partitions until one row past the threshold.  In the loop every
    step is a key-equi join or partial agg on doc ids, with no broadcast
    of anything data-sized; the state per round is one row per doc in
    any pair.  The edge list is checkpointed hash-partitioned on the
    join key, and the checkpoint keeps that partitioning (see
    :func:`~pigout_spark.pipeline.iterate.checkpoint`), so no round
    re-exchanges it.
    """
    spark = pairs.sparkSession
    sc = spark.sparkContext
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def endpoint(c: str) -> Column:
        # checked inside the explode: a filter on the pair columns is
        # pushed into the plan that made the pairs, one column to each
        # side of a self-join, which then no longer shares its exchanges
        return F.coalesce(F.col(c), F.raise_error(f"dedup_clusters: NULL in {c}"))

    # The symmetric edge list is read every round, so it is materialized
    # once (else the whole pair generation re-runs per round: 28 s →
    # 12 s on a 2 M-edge minhash graph).  Both directions come from one
    # in-task explode: a union of two projections planned the pair
    # generation twice.  No distinct: min-label CC is idempotent to
    # parallel edges.  Partitioned on the join key before the
    # checkpoint, so every round's request join reads it in place.
    # Eager, so the collect below reads stored blocks: under a lazy
    # checkpoint its one task computes the first partitions, and Spark
    # completes the rest in a second job after it (x_dedup_clusters at
    # sf0.1, build and run: 8.1 s eager, 10.2 s lazy, median of 3).
    with job_description(sc, "dedup_clusters round 0"):
        edges = checkpoint(
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            endpoint(left).alias("u"), F.col(right).alias("v")
                        ),
                        F.struct(
                            endpoint(right).alias("u"), F.col(left).alias("v")
                        ),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.u").alias("u"), F.col("__e.v").alias("v"))
            .repartition(npart, "u"),
            eager=True,
        )
        threshold = broadcast_threshold(spark)
        if threshold is not None and edges.schema["u"].dataType in _DRIVER_ORDERED:
            width = row_width(edges)
            # one task reads the partitions in turn and stops at the limit
            with job_description(sc, "dedup_clusters: collect edges"):
                rows = edges.coalesce(1).limit(threshold // width + 1).toArrow()
            if decide("dedup_clusters edges", rows.num_rows * width, threshold):
                return _components_on_driver(
                    spark, rows, edges.schema["u"], out_id, out_root
                )
        state = checkpoint(
            edges.groupBy("u")
            .agg(F.least(F.col("u"), F.min("v")).alias("lbl"))
            .select(F.col("u").alias("id"), "lbl", F.col("u").alias("old"))
        )
        requests = edges.select(
            F.col("u").alias("key"),
            F.col("v").alias("dst"),
            F.lit(True).alias("edge"),
        )
        no_old = F.lit(None).cast(state.schema["old"].dataType).alias("old")
        changed = F.col("lbl") < F.col("old")

        def step(state: DataFrame) -> DataFrame:
            # a union keeps HashPartitioning(key) only when both sides
            # carry it; without this the edges would be re-exchanged
            # every round
            pointers = (
                state.where(F.col("lbl") < F.col("id"))
                .select(
                    F.col("lbl").alias("key"),
                    F.col("id").alias("dst"),
                    F.lit(False).alias("edge"),
                )
                .repartition(npart, "key")
            )
            # SHUFFLE_HASH builds the node-sized state per partition and
            # streams the requests: no per-round sort of the edge list
            answers = (
                requests.union(pointers)
                .join(state.hint("shuffle_hash"), F.col("key") == F.col("id"))
                .where(~F.col("edge") | changed)
                .select(F.col("dst").alias("id"), "lbl", no_old)
            )
            hooks = state.where(changed).select(
                F.col("old").alias("id"), "lbl", no_old
            )
            return (
                state.select("id", "lbl", F.col("lbl").alias("old"))
                .union(answers)
                .union(hooks)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
            )

        state = fixpoint(
            "dedup_clusters",
            state,
            step,
            rounds=max_iter,
            converged=lambda state: state.where(changed).isEmpty(),
        )
        return state.select(
            F.col("id").alias(out_id), F.col("lbl").alias(out_root)
        )


#: id types whose order in Python is Spark's: integers, and strings
#: under the default binary collation, whose code-point order is UTF-8
#: byte order.  Doubles (NaN, -0.0), timestamps and other collations
#: take the loop.
_DRIVER_ORDERED = (ByteType(), ShortType(), IntegerType(), LongType(), StringType())


def _components_on_driver(
    spark: SparkSession,
    edges: pa.Table,
    id_field: StructField,
    out_id: str,
    out_root: str,
) -> DataFrame:
    """(node, smallest node of its component) over the collected
    ``(u, v)`` edge rows, by union-find with path halving, as a local
    relation with the loop's schema.  Every root is the smallest node of
    its tree: a union hangs the larger root under the smaller."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for u, v in zip(*(c.to_pylist() for c in edges.columns)):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    ids = list(parent)
    schema = StructType(
        [
            StructField(out_id, id_field.dataType, id_field.nullable),
            StructField(out_root, id_field.dataType, True),
        ]
    )
    table = pa.table(
        [pa.array(ids), pa.array([find(x) for x in ids])], names=schema.names
    )
    return spark.createDataFrame(table, schema)


def retain_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Near-dup RETENTION: keep one representative doc per duplicate
    cluster — highest ``score_col`` (ties → lowest id; no score →
    lowest id), docs absent from ``clusters`` are their own singleton.

    The last step of the dedup chain (pairs → ``dedup_clusters`` →
    retain): one left equi-join on doc id plus one window over the
    cluster key.  Cluster sizes are bounded by near-dup group sizes
    (not corpus size), so the window partition never degenerates; at
    100 TB both shuffles key on ids — no broadcast of corpus-sized
    state, no driver materialization.
    """
    j = df.join(clusters.select(id_col, cluster_col), id_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col))
    )
    order = (
        [F.desc(score_col), F.asc(id_col)] if score_col else [F.asc(id_col)]
    )
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _positioned_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, start, sh): every ``n``-token shingle WITH its 0-based start
    position — the positional variant of curation's shingle builder.
    Docs shorter than ``n`` tokens contribute no rows."""
    toks = ws_tokens(text_col, distinct=False)
    d = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= n
    )
    starts = F.sequence(F.lit(0), F.size("__toks") - n)
    return d.select(
        F.col(id_col),
        F.explode(starts).alias("start"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.col("start").cast("long").alias("start"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        "start",
        F.md5(
            F.concat_ws(" ", F.slice("__toks", F.col("start") + 1, n))
        ).alias("sh"),
    )


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-internal duplicate-PASSAGE detection: emit every position
    of every ``n``-token shingle that occurs in ≥ ``min_docs`` DISTINCT
    documents — the n-gram-granularity member of the exact-substring
    dedup family (suffix-array substring dedup's MapReduce-friendly
    approximation).  Distinct from :func:`~pigout_spark.pipeline.text.
    repetition_features` (within-doc repetition) and from curation's
    ``decontaminate`` (cross-corpus): this finds boilerplate/quotation
    spans REPEATED ACROSS the training corpus itself, positioned so a
    downstream rewrite can cut the span rather than drop the doc.

    Output: (id, start, sh, ndocs) — one row per duplicated shingle
    position; ``ndocs`` is the corpus-wide distinct-document frequency
    of that shingle.

    100 TB (r14, guide §2.4): token-proportional all the way, ONE
    explode and ONE exchange.  The former shape exploded + md5'd the
    stream twice (once for the count-distinct, once for the re-attach
    join) and broadcast the duplicated-shingle table — a corpus-derived
    relation with no size bound.  Now the positioned stream is hash-
    exchanged by ``sh`` once (AQE-coalescible); per-(sh, doc) start
    positions fold into a list on that partitioning, the distinct-doc
    count is a count-over-Window on the SAME partitioning (no second
    exchange, no broadcast), and surviving positions re-explode
    in-task.  Never doc×doc.  A ubiquitous boilerplate shingle is a
    skewed partition — bounded by the corpus duplication rate, and the
    output size is inherent to the spec (every duplicated position is
    the deliverable).
    """
    sh = _positioned_shingles(df, id_col, text_col, n)
    per = (
        sh.repartition("sh")
        .groupBy("sh", id_col)
        .agg(F.collect_list("start").alias("__starts"))
    )
    w = Window.partitionBy("sh")
    return (
        per.withColumn("ndocs", F.count(F.lit(1)).over(w))
        .filter(F.col("ndocs") >= min_docs)
        .select(
            F.col(id_col),
            F.explode("__starts").alias("start"),
            F.col("sh"),
            F.col("ndocs"),
        )
    )


def passage_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicate-passage profile: total shingle positions,
    positions whose shingle is duplicated corpus-wide (≥ ``min_docs``
    distinct docs), and the duplicated fraction — the doc-level signal
    for "mostly boilerplate" filtering when span surgery is overkill.

    Docs with fewer than ``n`` tokens have no shingles and are emitted
    with zero counts and fraction 0.0 (they cannot carry a duplicated
    passage).

    100 TB (r14, guide §2.4): positions are irrelevant here (unlike
    :func:`duplicate_passage_spans`) — only per-(shingle, doc)
    occurrence counts matter — so the shingle stream is exploded ONCE,
    exchanged ONCE (hash by ``sh``; AQE-coalescible), and everything
    corpus-wide rides that single partitioning: the (sh, doc) count
    aggregate, then a count-over-Window partitioned by the same key in
    place of the former stream-sized re-attach join (whose plan
    exploded + md5'd the whole corpus twice and shuffled it twice).
    The window's partitions are per-shingle doc lists — bounded by the
    corpus duplication rate, never data-sized.  All counts integer —
    bit-identical results.
    """
    sh = _positioned_shingles(df, id_col, text_col, n).select(id_col, "sh")
    per = (
        sh.repartition("sh")
        .groupBy("sh", id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("sh")
    per_doc = (
        per.withColumn("__ndocs", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_shingles"),
            F.sum(
                F.when(F.col("__ndocs") >= min_docs, F.col("__c")).otherwise(F.lit(0))
            ).alias("n_dup_shingles"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_dup_shingles", F.lit(0)).alias("n_dup_shingles"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.col("n_dup_shingles") / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC near-duplicate pairs, cluster-restricted (the SemDeDup
    recipe): k-means-assign every embedding to a cell, then exact
    cosine ≥ ``threshold`` WITHIN each cell only — candidate volume is
    Σ C(cell size, 2), never corpus², and the pair join keys on the
    cell.  Complements the hyperplane-LSH variant
    (:func:`embedding_cosine_dups`): k-means cells adapt to the data
    distribution where fixed hyperplanes don't, at the cost of the
    (driver-sized, seeded) codebook build.

    100 TB: assignment is a zero-shuffle narrow projection (centroid
    literals — `similarity.ivf_assign`); the self-join shuffles
    (id, v, cell) by cell with explicit partition pinning (the
    pair-join AQE rule, SCALE.md); a mega-cell is the skew knob —
    raise ``n_centroids`` so cells stay bounded.
    """
    from pigout_spark.pipeline.similarity import dot, ivf_assign

    cells = ivf_assign(emb, n_centroids, id_col, vec_col)
    a = cells.select(
        F.col(id_col).alias("a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = cells.select(
        F.col(id_col).alias("b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    pairs = (
        # r14: SHUFFLE_HASH measured faster than merge here (1.18 vs
        # 1.49 s sf0.1) — cell-sized build tables, no wide-row sort.
        _pin_partitions(a, "cell", join_hint="shuffle_hash")
        .join(_pin_partitions(b, "cell", join_hint="shuffle_hash"), "cell")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
    )
    return pairs.select("a", "b", "cos")


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full SemDeDup chain: cluster-restricted cosine pairs →
    connected components (:func:`dedup_clusters`) → keep the lowest-id
    representative per component.  Returns the SURVIVING rows of
    ``emb`` (duplicates dropped), same contract as :func:`exact_dedup`.
    """
    pairs = semantic_dedup_pairs(
        emb, n_centroids, threshold, id_col, vec_col
    )
    clusters = dedup_clusters(pairs, left="a", right="b")
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return emb.join(dropped, id_col, "left_anti")


#: fuzzy_pairs block-size guard — a block bigger than this is dropped
#: (with the same documented-cap contract as DEFAULT_MAX_DF): one
#: degenerate key prefix must not quadratically dominate the shuffle.
DEFAULT_MAX_BLOCK = 10_000


def _blocked_string_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_len: int,
    max_block: int | None,
) -> DataFrame:
    """Redundant prefix/suffix key blocking shared by the string
    near-dup verifiers (:func:`fuzzy_pairs`, :func:`jw_pairs`): each
    string emits its first- and last-``block_len``-chars keys, a pair
    is a candidate when it shares EITHER key (the stated recall
    contract), oversized blocks are dropped under ``max_block`` (the
    max_df discipline).  Returns (id_a, id_b, __sa, __sb) with
    id_a < id_b, deduplicated across the two key families."""
    if int(block_len) < 1:
        raise ValueError(f"block_len must be >= 1, got {block_len}")
    bl = int(block_len)
    d = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__id"), F.col(text_col).alias("__s"))
    pre = d.select(
        "__id", "__s",
        F.lit("p").alias("__side"),
        F.substring("__s", 1, bl).alias("__bk"),
    )
    suf = d.filter(F.length("__s") >= bl).select(
        "__id", "__s",
        F.lit("s").alias("__side"),
        F.substring("__s", -bl, bl).alias("__bk"),
    )
    keys = pre.unionByName(suf)
    if max_block is not None:
        big = (
            keys.groupBy("__side", "__bk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_block))
            .select("__side", "__bk")
        )
        keys = keys.join(F.broadcast(big), ["__side", "__bk"], "left_anti")
    # r14: SHUFFLE_HASH measured faster than merge on the block join
    # (0.93 vs 1.05 s sf0.1) — short string keys, bounded blocks.
    keys = _pin_partitions(keys, "__bk", join_hint="shuffle_hash")
    a = keys.select(
        F.col("__side"), F.col("__bk"),
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa"),
    )
    b = keys.select(
        F.col("__side"), F.col("__bk"),
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb"),
    )
    return (
        a.join(b, ["__side", "__bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    block_len: int = 4,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Fuzzy-string near-dup pairs by EXACT Levenshtein distance ≤
    ``max_dist`` over blocked candidates — the record-linkage
    workhorse (titles, names, product strings) the token-set family
    (Jaccard/containment) misses: a one-character typo changes no
    token overlap score but is edit distance 1.

    Candidate generation is REDUNDANT KEY BLOCKING (classic record
    linkage): each string emits its first-``block_len``-chars and its
    last-``block_len``-chars keys; a pair is a candidate when it
    shares EITHER key.  This is a RECALL CONTRACT, not a guarantee
    (the DOULION/LSH family discipline, stated not hidden): a pair
    whose edits touch both the prefix and the suffix is missed —
    guaranteed-recall edit-distance joins (PassJoin segment covers)
    cost far more candidate volume than the miss rate justifies for
    near-dup sweeps.  Verification is exact: a length-difference
    prefilter (|len a − len b| ≤ d bounds edit distance from below),
    then ONE ``levenshtein(a, b, threshold)`` per candidate — the
    thresholded form stops the DP early at d+1 (Spark 3.5+ builtin,
    JVM-side).

    UNICODE NOTE: Spark's levenshtein counts CHARACTERS; engines that
    count bytes (DuckDB) diverge on non-ASCII — oracle replay is
    exact on ASCII columns, documented at the query site.

    Output: (id_a, id_b, dist), id_a < id_b, dist ≤ max_dist, exact.

    100 TB: two narrow key projections; candidates are one (side, key)
    equi-join whose volume ``max_block`` bounds (oversized blocks
    dropped — the max_df contract); the verify is candidate-sized and
    JVM-side.  Nothing is ever all-pairs.
    """
    if int(max_dist) < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    cand = _blocked_string_candidates(
        df, id_col, text_col, block_len, max_block
    )
    dd = int(max_dist)
    # thresholded levenshtein returns -1 ABOVE the threshold (Spark
    # contract) — the keep-filter must be 0 ≤ dist ≤ d, not just ≤ d
    dist = F.levenshtein("__sa", "__sb", dd)
    return (
        cand.filter(
            (F.abs(F.length("__sa") - F.length("__sb")) <= dd)
        )
        .select("id_a", "id_b", dist.cast("bigint").alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= dd))
    )


def fs_linkage_weights(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    field_cols: list[str],
    m_probs: dict[str, float] | None = None,
    default_m: float = 0.95,
) -> DataFrame:
    """Fellegi–Sunter match weights over candidate record pairs — the
    probabilistic record-linkage scorer (Fellegi & Sunter 1969) that
    turns :func:`fuzzy_pairs`-style blocking output into a ranked
    linkage decision: per comparison field f,

        w_f(agree)    = log₂(m_f / u_f)
        w_f(disagree) = log₂((1 − m_f) / (1 − u_f))

    and a pair's weight is the sum over its observed fields.  The
    u-probabilities (chance agreement between two RANDOM records) are
    estimated from the field's value distribution, u_f = Σ_v (c_v/N)²
    — the exact probability two independently drawn records share a
    value.  The m-probabilities (agreement probability GIVEN a true
    match) come from the caller (``m_probs`` / ``default_m``), the
    standard practice absent labeled pairs; EM refinement stays
    upstream where labels exist.

    Missing data: a field NULL on either side contributes 0 — the
    missing-at-random convention (no evidence either way); ``n_known``
    counts the fields actually compared so downstream thresholds can
    condition on evidence volume.  A field that is CONSTANT over the
    records (u_f = 1) or all-NULL carries no discriminating power and
    raises loudly — silently scoring it would emit ±∞/NULL weights.

    Determinism: u_f = Σc_v²/N² from exact integer counts; each field
    weight is ROUND-6'd IN SPARK (one log₂ IEEE chain) before the
    bounded k-row collect (the codebook discipline), pair terms are
    those quantized literals summed EXACTLY in DECIMAL(38,6), readout
    ROUND-6 (+0.0).

    Output: (id_a, id_b, n_known, n_agree, weight6).

    100 TB: u-estimation is ONE melted (field, value) exchange with
    map-side combine over the records (k·|records| rows in, k rows
    out); pair scoring is two id-keyed hash joins of the pairs
    relation against the k-column record projection, and every weight
    term is a literal CASE expression — whole-stage codegen, no UDF,
    no window, nothing pair-quadratic beyond the caller's own
    blocking.
    """
    if not field_cols:
        raise ValueError("fs_linkage_weights needs at least one field")
    m_probs = dict(m_probs or {})
    for f in field_cols:
        m = float(m_probs.get(f, default_m))
        if not (0.0 < m < 1.0):
            raise ValueError(
                f"fs_linkage_weights: m probability for {f!r} must be "
                f"in (0, 1), got {m}"
            )
        m_probs[f] = m
    melted = (
        records.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("__f"),
                            F.col(f).cast("string").alias("__v"),
                        )
                        for f in field_cols
                    ]
                )
            ).alias("__fv")
        )
        .select("__fv.__f", "__fv.__v")
        .filter(F.col("__v").isNotNull())
    )
    per_val = melted.groupBy("__f", "__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    per_field = per_val.groupBy("__f").agg(
        F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("__num"),
        F.sum("__c").cast("bigint").alias("__nn"),
    )
    # ROUND-6 the log2 chain IN-ENGINE so the collected literals are
    # the same quantized doubles the oracle's ROUND(log2(·), 6)
    # produces — no Python banker's rounding in the weight path
    u = F.col("__num").cast("double") / (
        F.col("__nn").cast("double") * F.col("__nn").cast("double")
    )
    m_col = F.element_at(
        F.create_map(
            *[x for f in field_cols for x in (F.lit(f), F.lit(m_probs[f]))]
        ),
        F.col("__f"),
    )
    wtab = {
        r["__f"]: r
        for r in per_field.select(
            "__f",
            u.alias("__u"),
            (F.round(F.log2(m_col / u), 6) + F.lit(0.0)).alias("__wa"),
            # gated so a constant field (u = 1) reaches the LOUD guard
            # below instead of an ANSI divide-by-zero inside codegen
            F.when(
                u < 1.0,
                F.round(F.log2((1.0 - m_col) / (1.0 - u)), 6) + F.lit(0.0),
            ).alias("__wd"),
        ).collect()
    }
    for f in field_cols:
        r = wtab.get(f)
        if r is None:
            raise ValueError(
                f"fs_linkage_weights: field {f!r} has no observed "
                "values — drop it or fix the projection"
            )
        if r["__u"] >= 1.0:
            raise ValueError(
                f"fs_linkage_weights: field {f!r} is constant over the "
                "records (u = 1) — it carries no discriminating power"
            )
    ra = records.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).cast("string").alias(f"__a_{f}") for f in field_cols],
    )
    rb = records.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).cast("string").alias(f"__b_{f}") for f in field_cols],
    )
    p = pairs.select("id_a", "id_b").join(ra, "id_a").join(rb, "id_b")
    known, agree, terms = [], [], []
    for f in field_cols:
        av, bv = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        is_known = av.isNotNull() & bv.isNotNull()
        is_agree = is_known & (av == bv)
        known.append(F.when(is_known, 1).otherwise(0))
        agree.append(F.when(is_agree, 1).otherwise(0))
        terms.append(
            F.when(~is_known, F.lit(0.0))
            .when(is_agree, F.lit(float(wtab[f]["__wa"])))
            .otherwise(F.lit(float(wtab[f]["__wd"])))
            .cast("decimal(38,6)")
        )
    n_known = sum(known[1:], known[0]).cast("bigint").alias("n_known")
    n_agree = sum(agree[1:], agree[0]).cast("bigint").alias("n_agree")
    total = sum(terms[1:], terms[0])
    w6 = (F.round(total.cast("double"), 6) + F.lit(0.0)).alias("weight6")
    return p.select("id_a", "id_b", n_known, n_agree, w6)


def _jaro(s1: str, s2: str) -> float:
    """Jaro similarity, DuckDB-convention edge cases (either side
    empty → 0.0): standard matching window ⌊max/2⌋−1, greedy
    left-to-right match flags, half-transposition count.  Verified
    bit-identical to DuckDB's jaro_similarity over 30k random strings
    (the oracle engine for :func:`jw_pairs`)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i in range(l1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str) -> float:
    """Jaro–Winkler: prefix boost l·0.1·(1−jaro), prefix capped at 4,
    applied only above the classic 0.7 boost threshold — the DuckDB
    jaro_winkler_similarity convention, verified bit-identical over
    30k random strings."""
    j = _jaro(s1, s2)
    if j > 0.7:
        length = 0
        for a, b in zip(s1, s2):
            if a == b and length < 4:
                length += 1
            else:
                break
        j = j + length * 0.1 * (1.0 - j)
    return j


def jw_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_sim: float = 0.9,
    block_len: int = 4,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Jaro–Winkler near-dup pairs over blocked candidates — the
    name-matching companion to :func:`fuzzy_pairs` (Winkler 1990;
    built for census name linkage): where Levenshtein counts edits,
    JW rewards shared prefixes and tolerates transpositions, the
    right scorer for person/org/title strings.  Shares fuzzy_pairs'
    redundant prefix/suffix blocking (same recall contract, same
    ``max_block`` degenerate-key cap).

    Spark has no Jaro–Winkler builtin, so verification is the
    documented slow path CONFINED to the candidate relation: an
    Arrow-batched pandas UDF over the blocked pairs (never the
    corpus), computing the DuckDB-convention JW (:func:`_jaro_winkler`
    — empty→0, window ⌊max/2⌋−1, boost>0.7, prefix≤4, p=0.1, verified
    bit-identical over 30k random strings).  The readout is ROUND-6
    (+0.0) IN THE JVM after the UDF so the rounding discipline matches
    the oracle engine.

    Output: (id_a, id_b, jw6), id_a < id_b, jw6 ≥ round(min_sim, 6).

    100 TB: candidate generation is the shared one (side, key)
    equi-join bounded by ``max_block``; the Python stage is
    Arrow-batched and candidate-sized — at web scale the candidate
    relation is orders of magnitude below the corpus, and the UDF is
    a narrow map over it (no shuffle of its own).
    """
    from pyspark.sql.functions import pandas_udf

    if not (0.0 <= float(min_sim) <= 1.0):
        raise ValueError(f"min_sim must be in [0, 1], got {min_sim}")
    cand = _blocked_string_candidates(
        df, id_col, text_col, block_len, max_block
    )

    @pandas_udf("double")
    def _jw_udf(sa, sb):
        import pandas as pd

        return pd.Series(
            [_jaro_winkler(x, y) for x, y in zip(sa, sb)], dtype="float64"
        )

    # asNondeterministic stops Catalyst substituting the UDF into the
    # min_sim filter below (which would run the Python scorer TWICE per
    # candidate — plan-pinned in tests/test_plans.py); the function is
    # pure, the marking only restricts that optimizer move.
    _jw_once = _jw_udf.asNondeterministic()
    sim6 = F.round(_jw_once(F.col("__sa"), F.col("__sb")), 6) + F.lit(0.0)
    return (
        cand.select("id_a", "id_b", sim6.alias("jw6"))
        .filter(F.col("jw6") >= round(float(min_sim), 6))
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token ``k``-gram,
    slide a window of ``w`` consecutive hashes, select each window's
    MINIMUM (rightmost occurrence on ties — the paper's robust
    winnowing rule), and emit the distinct selected (position, hash)
    fingerprints.  The guarantee that makes it the standard
    code/document-overlap detector: any shared substring of at least
    w + k − 1 tokens shares at least one fingerprint, while only
    ~2/(w+1) of positions are kept.

    Token k-gram hashes are the house md5 idiom (first 7 hex chars →
    int64 — exact in both engines); the entire select is higher-order
    array expressions IN-TASK (sequence/transform/slice/array_min/
    reverse + array_position for the rightmost-tie rule) — zero
    Python, zero shuffle, whole-stage codegen.  Documents with fewer
    than k tokens emit nothing; documents with 1 ≤ m < w k-grams are
    winnowed as ONE window of size m (the global minimum — the
    standard short-document convention, keeping the ≥1-fingerprint
    guarantee for every doc of ≥ k tokens).

    Output: (id, pos, fp) — one row per distinct selected fingerprint,
    ``pos`` the 0-based k-gram index it was selected at.

    100 TB: a narrow map over the corpus (the fingerprint relation is
    ~2/(w+1) of the k-gram count); downstream overlap detection joins
    on fp — an equi-join on a hash key, the passage-dedup shape.
    """
    if int(k) < 1 or int(w) < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    kk, ww = int(k), int(w)
    toks = ws_tokens(text_col, distinct=False)
    hs_expr = (
        f"transform(sequence(0, size(__toks) - {kk}), i -> "
        f"CAST(conv(substring(md5(array_join(slice(__toks, i + 1, {kk})"
        f", ' ')), 1, 7), 16, 10) AS BIGINT))"
    )
    # w_eff = least(w, m): short docs winnow as one window of size m
    sel_expr = (
        f"array_distinct(transform(sequence(0, size(__hs) - __we), j -> "
        f"named_struct("
        f"'pos', j + __we - array_position(reverse(slice(__hs, j + 1, "
        f"__we)), array_min(slice(__hs, j + 1, __we))), "
        f"'fp', array_min(slice(__hs, j + 1, __we)))))"
    )
    d = (
        df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .filter(F.size("__toks") >= kk)
        .select("id", F.expr(hs_expr).alias("__hs"))
        .select(
            "id", "__hs",
            F.least(F.lit(ww), F.size("__hs")).alias("__we"),
        )
        .select("id", F.explode(F.expr(sel_expr)).alias("__s"))
        .select(
            "id",
            F.col("__s.pos").cast("bigint").alias("pos"),
            F.col("__s.fp").alias("fp"),
        )
    )
    return d


def dhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    byte_cols: list[str] | None = None,
    max_dist: int = 3,
    max_block: int | None = DEFAULT_MAX_BLOCK,
    block_bits: int = 16,
) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over 64-bit
    perceptual hashes carried as EIGHT byte columns (the
    :func:`pigout_spark.pipeline.multimodal.dhash_png_images` shape) —
    the simhash pigeonhole discipline applied to images: two hashes
    within Hamming distance d must agree on at least one block, so
    candidates come from an equi-join on (block_index, block value),
    never all pairs.

    ``block_bits`` picks the block width and with it the
    selectivity/coverage tradeoff — THE scale lever:

    - 8 (eight 1-byte blocks): coverage d ≤ 7, but only 256·8 = 2048
      distinct bucket keys — at corpus scale every bucket saturates
      any cap (measured: the sf1 fixture grinds).  Small corpora
      only.
    - 16 (four 2-byte blocks, the default): coverage d ≤ 3, 65536·4
      distinct keys — multiplicities drop ~256×, the join stays
      bucket-selective at millions of images.  At billions, the same
      reasoning moves to 2×32-bit (d ≤ 1) or multi-probe; the
      pigeonhole arithmetic is stated, not hidden.

    ``max_dist`` beyond the chosen coverage raises loudly (silently
    losing recall is the failure mode this guard exists for).
    ``max_block`` drops degenerate buckets (e.g. the all-zero rows of
    flat images) — the fuzzy_pairs/max_df stated-cap contract.

    Verification is exact and JVM-side: Σ_j bit_count(xor(aⱼ, bⱼ)) ≤
    max_dist over the eight byte pairs — whole-stage codegen, no UDF.

    Output: (id_a, id_b, dist), id_a < id_b, 0 ≤ dist ≤ max_dist.

    100 TB: one narrow explode to (id, block, value), a capped bucket
    equi-join, and a candidate-sized bitwise verify — the
    dedup_simhash_pairs shape with hash blocks for buckets.
    """
    byte_cols = list(byte_cols or [f"b{j}" for j in range(8)])
    if len(byte_cols) != 8:
        raise ValueError(
            f"dhash_hamming_pairs expects 8 byte columns, got "
            f"{len(byte_cols)}"
        )
    if int(block_bits) not in (8, 16):
        raise ValueError(
            f"block_bits must be 8 or 16, got {block_bits}"
        )
    n_blocks = 8 if int(block_bits) == 8 else 4
    if not (0 <= int(max_dist) <= n_blocks - 1):
        raise ValueError(
            f"max_dist must be in [0, {n_blocks - 1}] ({n_blocks}-block "
            f"pigeonhole coverage at block_bits={block_bits}), got "
            f"{max_dist}"
        )
    # r14 (guide §2.4 — single computation): the hash relation feeds
    # FOUR plan consumers (both sides of the block self-join, the
    # max_block bucket census, and the two distance-readout joins);
    # without a checkpoint each consumer re-executes the upstream —
    # for PNG inputs that is four runs of the whole Python decode
    # chain.  The relation is id + 8 ints (~72 B/row at any corpus
    # size) — cheap to materialize, 100 TB-safe.
    d = checkpoint(
        df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c).cast("int").alias(f"__b{j}")
              for j, c in enumerate(byte_cols)],
        )
        .filter(F.col("__id").isNotNull())
    )
    if n_blocks == 8:
        key_exprs = [F.col(f"__b{j}") for j in range(8)]
    else:
        key_exprs = [
            F.col(f"__b{2 * j}") * 256 + F.col(f"__b{2 * j + 1}")
            for j in range(4)
        ]
    blocks = d.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("blk"), e.alias("bv"))
                    for j, e in enumerate(key_exprs)
                ]
            )
        ).alias("__k"),
    ).select("__id", "__k.blk", "__k.bv")
    if max_block is not None:
        big = (
            blocks.groupBy("blk", "bv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_block))
            .select("blk", "bv")
        )
        blocks = blocks.join(F.broadcast(big), ["blk", "bv"], "left_anti")
    blocks = _pin_partitions(blocks, "bv", join_hint="shuffle_hash")
    cand = (
        blocks.select("blk", "bv", F.col("__id").alias("id_a"))
        .join(
            blocks.select("blk", "bv", F.col("__id").alias("id_b")),
            ["blk", "bv"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = d.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"__b{j}").alias(f"__a{j}") for j in range(8)],
    )
    hb = d.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"__b{j}").alias(f"__c{j}") for j in range(8)],
    )
    dist = sum(
        [
            F.bit_count(
                F.expr(f"CAST(__a{j} AS INT) ^ CAST(__c{j} AS INT)")
            )
            for j in range(1, 8)
        ],
        F.bit_count(F.expr("CAST(__a0 AS INT) ^ CAST(__c0 AS INT)")),
    ).cast("bigint")
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= int(max_dist))
    )
