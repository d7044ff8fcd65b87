"""Item-item collaborative filtering on implicit feedback — the
"users who took X also took Y" serving primitive: co-occurrence counts
over per-user item sets, cosine-normalized, top-k neighbors per item.

Distinct from behavioral.basket_rules (per-BASKET pair support /
confidence / lift for rule mining): here the unit is the USER's whole
item set, the normalization is cosine over the binary user-item
incidence matrix, and the output is a ranked per-item neighbor list —
the item-to-item recommender shape (Amazon-style).

Determinism (oracle-hash discipline): all counts are exact integers;
score = n_ab / sqrt(n_a·n_b) is one IEEE sqrt + one division on
integer-valued doubles (sqrt is correctly rounded in every IEEE
engine); ranking ties break (score DESC, neighbor ASC).

Physical shape (r8, measured 5× over the naive self-join at sf0.1):
per-user item SETS are built by one collect_set aggregation (sorted,
cap-sliced), then pairs are generated IN-TASK by higher-order array
functions and flow straight into the pair aggregation — no self-join,
no row_number window.  Two explicit repartitions matter: (1) the
list relation is tiny in bytes, so AQE coalesces it to ~1 partition
and the ~cap²/2-per-row explode would run single-threaded without a
round-robin respray; (2) pre-partitioning the exploded pairs on the
pair key makes the aggregation run co-partitioned — pair keys are
mostly unique, so a map-side partial pass over unpartitioned pairs is
pure overhead (measured 2.5×).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.pipeline.iterate import checkpoint

#: unordered pairs (a, b), a < b, from a sorted deduplicated array
_PAIR_EXPR = (
    "flatten(transform(items, (x, ix) -> "
    "transform(slice(items, ix + 2, size(items) - ix - 1), "
    "y -> struct(x AS a, y AS b))))"
)

#: BOTH directions of every unordered pair, emitted in-task (r14): the
#: symmetrized neighbor relation used to come from a post-aggregation
#: self-union, which re-ran the whole explode→exchange→count pipeline
#: twice (two identical aggregation subtrees in the plan).  Emitting
#: (a,b) AND (b,a) at generation time doubles the exploded row count —
#: the same total volume the two passes shuffled — but aggregates it in
#: ONE pipeline; n_ab per direction equals the undirected count.
_SYM_PAIR_EXPR = (
    "flatten(transform(items, (x, ix) -> flatten("
    "transform(slice(items, ix + 2, size(items) - ix - 1), "
    "y -> array(struct(x AS a, y AS b), struct(y AS a, x AS b))))))"
)


def _user_item_lists(
    events: DataFrame,
    user_col: str,
    item_col: str,
    max_items_per_user: int | None,
    hub_safe: bool = False,
) -> DataFrame:
    """(user, items): the user's DISTINCT items as a sorted array,
    capped to the FIRST ``max_items_per_user`` in item order —
    deterministic and mirrorable in SQL (QUALIFY row_number ≤ cap over
    item order selects the same set).

    Two capped shapes, same selection (r13, VERDICT r12 #4 — A/B
    measured at sf1 on a quiet box, 3 warm runs each over the full
    item-cf pipeline):

    - default (``hub_safe=False``): one map-side-combined
      ``collect_set`` then sort+slice — no sort of event rows, no
      window, ONE exchange whose volume the partial aggregation
      already shrinks.  37.7 s → 29.3 s warm at sf1 (−22%).  Memory
      contract: each user's full DISTINCT item set materializes once
      in the final-merge task — the SAME contract the uncapped path
      below has always had; fine wherever per-user distinct items fit
      task memory (every non-adversarial workload).
    - ``hub_safe=True``: the r8 dense_rank shape — repartition on the
      user key, rank window ≤ cap (Catalyst plans WindowGroupLimit, so
      the sort retains only the cap-lowest items per user per
      partition), THEN collect_set.  A pathological 10⁸-distinct-item
      bot account never materializes its full set in task memory.
      Costs the per-group window iteration (~8 s of the sf1 wall —
      the r11 decomposition's dominant term at 100×).

    Pick ``hub_safe=True`` when the user population is adversarial
    (open crawl accounts); the default everywhere else.  Uncapped
    callers keep the sort-free one-pass collect_set shape and its
    documented full-set memory note.  The round-robin repartition
    after the agg is load-bearing in every shape: the list relation is
    small in bytes, AQE coalesces it, and the ~cap²/2 explode would
    otherwise run on one thread."""
    u, it = F.col(user_col), F.col(item_col)
    npart = events.sparkSession.sparkContext.defaultParallelism
    filtered = events.filter(u.isNotNull() & it.isNotNull())
    if max_items_per_user is None:
        lists = filtered.groupBy(u.alias("__u")).agg(
            F.sort_array(F.collect_set(it)).alias("items")
        )
    elif not hub_safe:
        lists = filtered.groupBy(u.alias("__u")).agg(
            F.slice(
                F.sort_array(F.collect_set(it)), 1, int(max_items_per_user)
            ).alias("items")
        )
    else:
        wn = Window.partitionBy("__u").orderBy("__i")
        lists = (
            filtered.select(u.alias("__u"), it.alias("__i"))
            .repartition("__u")
            .withColumn("__dr", F.dense_rank().over(wn))
            .filter(F.col("__dr") <= int(max_items_per_user))
            .groupBy("__u")
            .agg(F.sort_array(F.collect_set("__i")).alias("items"))
        )
    return lists.repartition(npart)


def _pair_counts(lists: DataFrame) -> DataFrame:
    """(item_a, item_b, n_ab) from the per-user list relation: in-task
    pair explosion, pair-key pre-partition (module docstring), count."""
    npart = lists.sparkSession.sparkContext.defaultParallelism
    return (
        lists.select(F.explode(F.expr(_PAIR_EXPR)).alias("__p"))
        .select(
            F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b")
        )
        .repartition(npart, "item_a", "item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )


def item_cooccurrence(
    events: DataFrame,
    user_col: str,
    item_col: str,
    max_items_per_user: int | None = None,
    hub_safe: bool = False,
) -> DataFrame:
    """Unordered-pair co-occurrence counts over per-user DISTINCT item
    sets: (item_a, item_b, n_ab) with item_a < item_b.

    ``max_items_per_user`` is the hub guard (the common_neighbors
    ``max_wedge_degree`` discipline): a user with m items contributes
    m²/2 pairs, so one crawler/bot account can dominate the shuffle.

    MEMORY CONTRACT OF THE CAP (changed r13; r13 ADVICE): the capped
    default builds each user's FULL distinct item set in the
    final-merge task before slicing (collect_set → sort → slice — the
    fast shape, −22% at sf1).  On adversarial user populations (open
    crawls, bot accounts with ~10⁸ distinct items) pass
    ``hub_safe=True`` to restore the r8 bounded-memory dense_rank
    shape, which never materializes more than ``max_items_per_user``
    items per user per partition.  See :func:`_user_item_lists` for
    the measured tradeoff.

    100 TB: one exchange onto the user key (the set aggregation,
    map-side combined), pairs generated in-task from each ≤cap-sized
    array, one exchange onto the pair key for the count — the pair
    relation never exists unaggregated outside its own exchange.
    """
    lists = _user_item_lists(
        events, user_col, item_col, max_items_per_user, hub_safe
    )
    return _pair_counts(lists)


def item_cf_topk(
    events: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 10,
    min_cooc: int = 1,
    max_items_per_user: int | None = None,
    hub_safe: bool = False,
) -> DataFrame:
    """Top-k cosine-nearest items per item:

        score(a, b) = n_ab / sqrt(n_a · n_b)

    where n_i counts DISTINCT users of item i (post-cap, so the
    normalization matches the pair counts) and n_ab the users holding
    both.  ``min_cooc`` prunes noise pairs before ranking (a single
    shared user is rarely signal).  Ties rank (score DESC, neighbor
    ASC) — deterministic in any engine because the score chain is
    bit-identical (module docstring).

    Output: (item, rec_item, n_ab, score, rank), rank 1..k, both
    directions of every pair (a recommends b AND b recommends a).

    MEMORY CONTRACT OF THE CAP (changed r13; r13 ADVICE): the capped
    default materializes each user's full distinct item set once in
    the final-merge task (fast collect_set→slice shape); on
    adversarial user populations pass ``hub_safe=True`` for the
    bounded-memory dense_rank shape — see :func:`item_cooccurrence`
    and :func:`_user_item_lists`.

    100 TB: pair counts per :func:`item_cooccurrence`; the item-count
    relation comes from the SAME list aggregation (one extra in-task
    explode, no new data pass), is item-sized, and AQE-broadcasts into
    the score joins; ranking is one window on the item key.
    """
    lists = _user_item_lists(
        events, user_col, item_col, max_items_per_user, hub_safe
    )
    # the list relation feeds BOTH the pair explosion and the item
    # counts; DataFrame plans don't share subplans, so without a
    # checkpoint the scan→join→distinct→agg chain runs twice (measured
    # ~0.7 s of the query's 2.6 s at sf0.1).  It is user-count-sized
    # (≤ cap items per row) — cheap to materialize, 100 TB-safe.
    lists = checkpoint(lists)
    # r14: the symmetrized pair relation is aggregated in ONE pipeline
    # (both directions emitted in-task — _SYM_PAIR_EXPR) instead of the
    # former post-aggregation self-union, which planned the entire
    # explode→exchange→count subtree TWICE; and the item-count relation
    # is checkpointed (item-sized — tiny) because it feeds two score
    # joins and would otherwise also compute twice.  Both changes are
    # plan-shape only: counts and scores are bit-identical.
    npart = lists.sparkSession.sparkContext.defaultParallelism
    sym = (
        lists.select(F.explode(F.expr(_SYM_PAIR_EXPR)).alias("__p"))
        .select(
            F.col("__p.a").alias("item"), F.col("__p.b").alias("rec_item")
        )
        .repartition(npart, "item", "rec_item")
        .groupBy("item", "rec_item")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_cooc))
    )
    ni = checkpoint(
        lists.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    # r15 (VERDICT r14 #4, guide §2.4/§3.1): join rec_item FIRST, item
    # LAST — the per-item top-k window below partitions by item, so the
    # second join's exchange doubles as the window's (3 pair-relation
    # exchanges → 2; inner joins commute, scores bit-identical).  The
    # item-count side carries SHUFFLE_HASH: it was planned SortMergeJoin
    # (the checkpointed n_i relation has no stats, so no auto
    # broadcast), which SORTED the multi-million-row pair relation once
    # per join; the hash build is the per-partition slice of the item
    # counts — bounded by items/partitions at any scale, never a
    # broadcast of an item-catalog-sized relation.
    scored = (
        sym.join(
            ni.select(
                F.col("item").alias("rec_item"), F.col("n_i").alias("n_j")
            ).hint("shuffle_hash"),
            "rec_item",
        )
        .join(ni.hint("shuffle_hash"), "item")
        .withColumn(
            "score",
            F.col("n_ab")
            / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double")),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.col("score").desc(), F.col("rec_item").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= int(k))
        .select("item", "rec_item", "n_ab", "score", "rank")
    )
