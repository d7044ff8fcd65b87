"""Query corpus: one named query per implemented operator (SURVEY.md §2,
§5) plus the training-data pipeline extensions (§7 phase 7).

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle string for DuckDB.  The driver hash-compares
them at sf0.01 — that is the correctness gate.  Entries without SQL get a
weaker rows-only check (genuinely non-SQL-expressible ops only).

Every query lives in the one ``QUERIES`` dict (``@query``, registry.py).
The driver records only the first 50 queries it is handed
(CORRECTNESS_r01.json stopped at exactly the first 50 registry entries),
so ``REGISTRY`` is the explicit ``DRIVER_WINDOW``, in window order, and
``EXTRA_REGISTRY`` is every other query, in registration order.  Both
are views of ``QUERIES``; tools/selfcheck.py and pytest check all of it.
"""

from pigout_spark.queries.registry import QUERIES, Q, query  # noqa: F401

# Importing the modules populates QUERIES via the @query decorator.
from pigout_spark.queries import behavioral_q  # noqa: F401,E402
from pigout_spark.queries import core  # noqa: F401,E402
from pigout_spark.queries import functions_q  # noqa: F401,E402
from pigout_spark.queries import pipeline_q  # noqa: F401,E402
from pigout_spark.queries import streaming_q  # noqa: F401,E402
from pigout_spark.queries import udf_q  # noqa: F401,E402

#: Hard driver cap observed in round 1 — len(queries()) must stay ≤ this.
DRIVER_QUERY_CAP = 50

# The driver-facing set, in order, with the flagship first.
# x_sample_bernoulli and x_bpe_encode_trained are rows-only by nature and
# stay extras; their deterministic twins carry the hash checks.
DRIVER_WINDOW = [
    "q01_group_agg",  # flagship
    "x_token_entropy",
    "x_good_turing",
    "x_zipf_fit",
    "x_rrf_fusion",
    "x_msprt",
    "x_fuzzy_pairs",
    "q18_string_funcs",
    "dedup_embedding",
    "dedup_jaccard",
    "dedup_simhash",
    "q21_scalar_projection",
    "sim_cosine_topk",
    "text_fingerprint",
    "sim_quant_topk",
    "x_bpe_pairs",
    "x_corpus_stats",
    "x_decontaminate",
    "x_dedup_clusters",
    "x_dedup_passages",
    "x_dedup_retain",
    "x_dsir_sample",
    "x_dsir_weights",
    "x_emb_quantize",
    "x_funnel",
    "x_kmv_merge",
    "x_latin_topk",
    "x_mixture_sample",
    "x_passage_stats",
    "x_pq_topk",
    "x_range_join",
    "x_rank_by_scalable",
    "x_rollup_timeseries",
    "x_row_rank_two_pass",
    "x_stream_dedup",
    "x_stream_join",
    "x_text_chunks",
    "x_text_pack",
    "x_text_pii",
    "x_text_repetition",
    "x_token_budget",
    "q27_stream_through",
    "x_bpe_encode",
    "x_cms_sketch",
    "x_cohort_retention",
    "x_events_resample",
    "x_interp",
    "x_ivfpq_topk",
    "x_kmv_sketch",
    "x_wav_meta",
]
assert len(DRIVER_WINDOW) == len(set(DRIVER_WINDOW)) == DRIVER_QUERY_CAP
REGISTRY = {name: QUERIES[name] for name in DRIVER_WINDOW}
EXTRA_REGISTRY = {k: v for k, v in QUERIES.items() if k not in REGISTRY}


def queries():
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql():
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}


def extra_queries():
    """Locally-verified queries beyond the driver's 50-entry window."""
    return {name: spec.fn for name, spec in EXTRA_REGISTRY.items()}


def extra_oracle_sql():
    return {
        name: spec.sql for name, spec in EXTRA_REGISTRY.items() if spec.sql is not None
    }
