"""Text analysis for training-data curation: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All JVM-side column expressions (split / higher-order functions / regex)
— zero Python UDFs, so the layer rides whole-stage codegen and scales
with the scan.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.pipeline.dedup import ws_tokens
from pigout_spark.pipeline.iterate import checkpoint
from pigout_spark.plans.partitioning import fan_out

#: Per-language stopword profiles (whole-token hits) for Latin-script
#: language ID.  Order = tie-break precedence.  Chinese is NOT here —
#: script detection handles CJK (the old pinyin profile collided with
#: European stopwords: "de" is also the top Spanish/French word).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "et", "les", "des", "un", "est", "dans", "que", "sur"],
    "es": ["el", "la", "y", "de", "que", "los", "en", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "ein", "zu", "mit", "ist", "nicht", "dem"],
    # r4 widening: pt/it/nl.  Lists lean on tokens the earlier-precedence
    # Romance profiles DON'T claim (pt "não/do/da/em", it "di/che/il",
    # nl "het/van/een") so pt≠es and it≠es are actually discriminated —
    # shared tokens score both sides equally and ties fall to the
    # earlier language, so distinctive tokens carry the decision.
    "pt": ["do", "da", "em", "não", "os", "um", "uma", "para", "com", "mais"],
    "it": ["di", "che", "il", "per", "non", "con", "del", "sono", "anche", "una"],
    "nl": ["het", "een", "van", "ik", "dat", "die", "niet", "voor", "maar", "zijn"],
}

#: Character-substring profiles (counted as substrings of
#: ' '||lower(text)||' ', so ' the ' hits word boundaries and 'sch'
#: hits inside words) — the n-gram half of the Latin-script score.
LANG_SUBSTRINGS: dict[str, list[str]] = {
    "en": [" th", "he ", "ing ", " of ", "tion"],
    "fr": [" l'", " d'", "é", "è", "aux ", "eux "],
    "es": ["ción", "ñ", " y ", "ado ", " los "],
    "de": ["sch", "ä", "ö", "ü", "ß", "ein", "cht"],
    "pt": ["ção", "ão ", "õe", " não ", "nh"],
    "it": ["zione", " gli ", " è ", " di ", "ttà"],
    "nl": ["ij", " het ", " een ", "oe", " van "],
}

#: Non-Latin script ranges, in precedence order: Japanese kana before
#: CJK (Japanese text mixes kana + kanji; kana is the discriminator),
#: Hangul, then Han → zh, Cyrillic → ru.  A language wins when its
#: script covers ≥5% of characters.  Ranges built from codepoints so
#: the regex character classes are unambiguous in both engines (RE2 and
#: Java regex both accept literal-char ranges).
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("ja", f"[{chr(0x3040)}-{chr(0x30FF)}]"),  # hiragana + katakana
    ("ko", f"[{chr(0xAC00)}-{chr(0xD7AF)}]"),  # hangul syllables
    ("zh", f"[{chr(0x4E00)}-{chr(0x9FFF)}]"),  # CJK unified ideographs
    ("ru", f"[{chr(0x0400)}-{chr(0x04FF)}]"),  # cyrillic
]


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting three ways: whitespace tokens, alphabetic runs
    (a BPE-ish `[a-z]+` pre-tokenizer), and all BPE-ish pieces
    (alpha runs | digit runs | single other chars)."""
    return df.withColumns(
        {
            "n_ws_tokens": F.size(ws_tokens(text_col, distinct=False)).cast("long"),
            "n_alpha_runs": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit("[a-z]+"), 0)
            ).cast("long"),
            "n_bpeish": F.size(
                F.regexp_extract_all(
                    F.col(text_col), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
                )
            ).cast("long"),
            "n_chars": F.length(text_col).cast("long"),
        }
    )


def _stop_count(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / distinctness / stopword-ratio features + a composite
    quality score in [0,1].  Ratios are int/int double divisions —
    deterministic across engines."""
    toks = ws_tokens(text_col, distinct=False)
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    stop = _stop_count(toks, LANG_PROFILES["en"])
    out = df.withColumns(
        {
            "n_tokens": n.cast("long"),
            "n_distinct": F.size(F.array_distinct(toks)).cast("long"),
            "avg_token_len": sum_len / n,
            "stop_ratio": stop / n,
        }
    )
    score = (
        F.least(F.col("n_tokens") / F.lit(32.0), F.lit(1.0)) * 0.5
        + (F.col("n_distinct") / F.col("n_tokens")) * 0.3
        + F.least(F.col("avg_token_len") / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    return out.withColumn("quality", score)


def script_char_count(text: Column | str, char_class: str) -> Column:
    """Count of characters in a regex character class: length of the
    text with everything OUTSIDE the class removed.  Pure column expr
    (regexp_replace is global in Spark; the SQL twin passes 'g')."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(c, f"[^{char_class[1:-1]}]", ""))


def substring_count(padded: Column, pat: str) -> Column:
    """Occurrences of a literal substring: (len − len(remove(pat)))/|pat|
    — exact integer arithmetic in both engines (the difference is always
    a multiple of |pat|)."""
    return (F.length(padded) - F.length(F.replace(padded, F.lit(pat)))) / F.lit(
        len(pat)
    )


def _latin_scores(df_text: Column) -> dict[str, Column]:
    """Per-Latin-language score: 3·(stopword token hits) + (character
    substring hits over ' '||lower(text)||' ')."""
    toks = ws_tokens(F.lower(df_text), distinct=False)
    padded = F.concat(F.lit(" "), F.lower(df_text), F.lit(" "))
    return {
        lang: F.lit(3) * _stop_count(toks, LANG_PROFILES[lang])
        + sum(
            (substring_count(padded, p) for p in LANG_SUBSTRINGS[lang]),
            F.lit(0.0),
        )
        for lang in LANG_PROFILES
    }


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    out: str = "predicted",
    margin: str | None = "lang_margin",
) -> DataFrame:
    """Language ID heuristic, pure column expressions (rides whole-stage
    codegen — zero Python):

    1. script detection first: a non-Latin script (kana → ja, hangul →
       ko, CJK → zh, cyrillic → ru, in that precedence — kana beats CJK
       because Japanese text mixes kanji in) wins when it covers ≥5% of
       characters;
    2. otherwise Latin-script scoring: 3·stopword-token hits +
       character-n-gram/substring hits per language (LANG_PROFILES /
       LANG_SUBSTRINGS), argmax with fixed precedence on ties.

    A heuristic, not a model — deterministic, engine-mirrorable, and
    honest about its limits (short/mixed texts default toward 'en').

    ``margin`` (r5) adds a confidence column so downstream filtering can
    threshold instead of trusting every label: for Latin-chain rows it
    is ``winner score − best other score`` (0 ⇒ ambiguous tie — e.g.
    every empty/stopword-free text), for script-detected rows the
    script-coverage ratio ``20·count/chars`` (≥ 1 whenever the 5%
    trigger fired).  Comparable within a path, not across paths; all
    arithmetic is exact-replayable cross-engine.  Pass ``margin=None``
    to skip the column."""
    text = F.col(text_col)
    n_chars = F.length(text)
    scores = _latin_scores(text)
    langs = list(LANG_PROFILES)
    pred = None
    for i, lang in enumerate(langs):
        rest = [scores[l] for l in langs[i + 1 :]]
        cond = (
            scores[lang] >= F.greatest(*rest) if len(rest) > 1
            else (scores[lang] >= rest[0]) if rest
            else F.lit(True)
        )
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    # the Latin margin chain picks the same winner as the chain above
    # (both resolve to the first global-max language in precedence
    # order), so winner and margin never disagree
    marg = None
    if margin is not None:
        for i, lang in enumerate(langs):
            others = [scores[l] for l in langs if l != lang]
            omax = F.greatest(*others) if len(others) > 1 else others[0]
            branch = scores[lang] - omax
            if i == len(langs) - 1:
                marg = marg.otherwise(branch)
            else:
                cond = scores[lang] >= omax
                marg = (
                    F.when(cond, branch) if marg is None
                    else marg.when(cond, branch)
                )
    # script overrides take precedence over the Latin chain
    for lang, cc in reversed(SCRIPT_RANGES):
        cnt = script_char_count(text, cc)
        hit = (cnt >= 1) & (cnt * 20 >= n_chars)
        pred = F.when(hit, lang).otherwise(pred)
        if margin is not None:
            marg = F.when(hit, (cnt * 20) / n_chars).otherwise(marg)
    outdf = df.withColumn(out, pred)
    return outdf if margin is None else outdf.withColumn(margin, marg)


#: modulus for the polynomial rolling hash (large prime < 2^31)
ROLLING_P = 1_000_000_007


def rolling_hash(text_col: Column | str, base: int = 31) -> Column:
    """Polynomial rolling hash over the characters:
    h = fold(c: h*base + ascii(c) mod P).  Left fold in exact int64 —
    engine-independent (SQL twin: list_reduce over split chars)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    chars = F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % ROLLING_P,
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set —
    invariant to token order and repetition (near-exact dedup key)."""
    canon = F.array_join(F.array_sort(F.array_distinct(ws_tokens(text_col))), " ")
    return df.withColumn(out, F.md5(canon))


#: PII patterns, applied in this order (email before phone so digits in
#: an already-scrubbed token can't re-match; IP before phone because the
#: phone class has no dots but shares digits).  RE2/Java-regex common
#: subset only — no lookaround, no backreferences — so Spark and any
#: SQL oracle match the SAME spans.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", out: str = "text_scrubbed"
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails / IPv4s /
    phone-shaped digit runs with typed placeholder tokens and count the
    matches per category (``n_email``/``n_ip``/``n_phone``).

    Pure per-row regexp_replace / regexp_extract_all column expressions
    — a narrow map with zero shuffle that rides whole-stage codegen and
    scales with the scan; patterns are the RE2∩Java subset so the scrub
    is engine-mirrorable (oracle-checkable).  A heuristic scrub, not a
    PII guarantee: it redacts the shapes above, nothing more."""
    cols = {}
    scrubbed = F.col(text_col)
    for name, pat, rep in PII_PATTERNS:
        # count BEFORE this category's scrub, on the text as the scrub
        # sees it (prior categories already replaced)
        cols[f"n_{name}"] = F.size(
            F.regexp_extract_all(scrubbed, F.lit(pat), 0)
        ).cast("long")
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return df.withColumns({**cols, out: scrubbed})


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into ≤``max_tokens``-token chunks with
    ``overlap`` tokens of context carried between consecutive chunks —
    the pre-tokenization step of a training pipeline (context-window
    packing happens downstream of it).

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens), zero-token
    docs dropped.  Chunk starts are 0, stride, 2·stride, … < n with
    stride = max_tokens − overlap, so every token lands in ≥1 chunk and
    consecutive chunks share exactly ``overlap`` tokens (fewer in the
    final partial chunk).

    One narrow map + explode — no shuffle; row amplification is
    bounded by ⌈n/stride⌉ per doc, proportional to corpus token count
    regardless of document skew.  Engine-mirrorable: whitespace
    tokenization + arithmetic slicing only.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    toks = ws_tokens(text_col, distinct=False)
    base = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
    ex = base.select(
        F.col(id_col),
        "__toks",
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    chunk = F.slice("__toks", F.col("__start") + 1, max_tokens)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition signals for quality filtering (the Gopher-rules
    family): the fraction of token 2-grams taken by the single most
    frequent 2-gram, and the duplicate-line fraction.

    Docs with < 2 tokens are dropped (no 2-grams to measure).  The
    2-gram histogram is an explode + per-(doc, gram) count + per-doc
    max — the same shuffle shape as token counting, proportional to
    corpus token count; the line stats are a narrow array expression.
    """
    toks = ws_tokens(text_col, distinct=False)
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != F.lit(""))
    base = (
        df.select(
            F.col(id_col),
            toks.alias("__t"),
            F.size(lines).alias("__nl"),
            F.size(F.array_distinct(lines)).alias("__ndl"),
        )
        .withColumn("__n", F.size("__t"))
        .filter(F.col("__n") >= 2)
    )
    grams = base.select(
        F.col(id_col),
        "__n",
        "__nl",
        "__ndl",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("__t", i), F.element_at("__t", i + 1)
                ),
            )
        ).alias("__gram"),
    )
    counts = grams.groupBy(id_col, "__n", "__nl", "__ndl", "__gram").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return counts.groupBy(id_col, "__n", "__nl", "__ndl").agg(
        F.max("__cnt").alias("__top")
    ).select(
        F.col(id_col),
        (F.col("__n") - 1).cast("long").alias("n_2grams"),
        F.col("__top").cast("long").alias("top_2gram_n"),
        (F.col("__top") / (F.col("__n") - 1)).alias("top_2gram_frac"),
        F.when(F.col("__nl") > 0, 1.0 - F.col("__ndl") / F.col("__nl"))
        .otherwise(0.0)
        .alias("dup_line_frac"),
    )


def pack_sequences(
    chunks: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    ntok_col: str = "n_chunk_tokens",
    out_seq: str = "seq_idx",
) -> DataFrame:
    """Pack chunks into fixed-token-budget training sequences — the
    pipeline stage :func:`chunk_documents` defers to ("context-window
    packing happens downstream").

    Exact greedy NEXT-FIT within each document: walk chunks in
    ``idx_col`` order, keep appending to the current sequence while its
    token total stays within ``budget``, else start a new sequence.
    Deterministic (the chunk order is a total order per doc), so any
    engine replaying the same walk assigns identical sequence ids —
    the DuckDB oracle does it with a recursive CTE.  A chunk larger
    than ``budget`` (impossible for chunk_documents output when
    ``budget >= max_tokens``) becomes its own over-budget singleton
    sequence — standard next-fit; every multi-chunk sequence is
    guaranteed ≤ ``budget``.

    Output: one row per chunk — (id, chunk_idx, n tokens, seq_idx) —
    ready to group by (id, seq_idx) for sequence assembly.

    100 TB: ONE shuffle (groupBy doc id); per-doc state is an array of
    (chunk_idx, n) pairs bounded by ⌈doc tokens/stride⌉ — document-
    not corpus-sized.  The next-fit walk itself is a Catalyst
    ``aggregate`` fold over that array: whole-stage-codegen JVM
    expression, zero Python, zero extra shuffle, no window over an
    unbounded partition.  Sequences never cross documents, so the
    operation parallelizes per doc with no global order — the property
    that makes packing scale-free.
    """
    acc_t = "struct<fill:bigint,seq:bigint,out:array<struct<idx:bigint,n:bigint,seq:bigint>>>"
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(idx_col).cast("long").alias("idx"),
                F.col(ntok_col).cast("long").alias("n"),
            )
        )
    )
    # init: an already-over-budget phantom sequence -1, so the first
    # chunk always "overflows" into sequence 0 — no first-row special
    # case inside the fold
    init = F.expr(
        f"cast(named_struct('fill', {budget} + 1, 'seq', -1, "
        f"'out', array()) as {acc_t})"
    )

    def step(acc, x):
        fits = (acc["fill"] + x["n"]) <= F.lit(budget)
        seq = F.when(fits, acc["seq"]).otherwise(acc["seq"] + 1)
        return F.struct(
            F.when(fits, acc["fill"] + x["n"]).otherwise(x["n"]).alias("fill"),
            seq.alias("seq"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["idx"].alias("idx"),
                        x["n"].alias("n"),
                        seq.alias("seq"),
                    )
                ),
            ).alias("out"),
        )

    packed = (
        chunks.groupBy(id_col)
        .agg(arr.alias("__chunks"))
        .select(
            F.col(id_col),
            F.explode(
                F.aggregate("__chunks", init, step, lambda a: a["out"])
            ).alias("__a"),
        )
    )
    return packed.select(
        F.col(id_col),
        F.col("__a.idx").alias(idx_col),
        F.col("__a.n").alias(ntok_col),
        F.col("__a.seq").alias(out_seq),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "mean_logprob",
) -> DataFrame:
    """Unigram language-model score — the classic perplexity-proxy
    quality signal (CCNet-style): train a unigram model ON THE CORPUS
    ITSELF (token frequencies), then score each doc by its mean token
    log-probability.  Low scores flag gibberish / boilerplate /
    out-of-distribution docs; zero-token docs are dropped.

    Two aggregation passes, both corpus-token-proportional: (1) the
    frequency table — explode + groupBy(token) with map-side combine;
    (2) per-doc mean — tokens equi-joined to frequencies on the token
    then groupBy(doc).  At 100 TB the frequency table is vocabulary-
    sized (≪ corpus); Spark broadcasts it when small and shuffle-joins
    on the token otherwise — stopword-token skew on that join is AQE
    skew-split territory, same as every token-keyed shuffle here.
    Output adds n_tokens alongside the score so downstream filters can
    length-threshold in the same pass.
    """
    toks = ws_tokens(text_col, distinct=False)
    base = (
        df.select(F.col(id_col), F.explode(toks).alias("__tok"))
    )
    freq = base.groupBy("__tok").agg(F.count(F.lit(1)).alias("__tf"))
    total = freq.agg(F.sum("__tf").alias("__n")).select(
        F.col("__n").cast("double")
    )
    scored = (
        base.join(freq, "__tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (F.log(F.col("__tf") / F.col("__n"))).alias("__lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.avg("__lp").alias(out),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, n): corpus word-frequency table — THE corpus-sized pass of
    BPE tokenizer training (everything after it is vocabulary-sized).
    One explode + groupBy(word) with map-side combine."""
    return (
        df.select(F.explode(ws_tokens(text_col, distinct=False)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """BPE pair statistics (tokenizer-training primitive): corpus-wide
    frequency of each adjacent CHARACTER pair inside words, weighted by
    word frequency — the quantity BPE's first merge decision maximizes.

    Two stages: the corpus-sized word count
    (:func:`word_frequencies`), then pair extraction over the VOCABULARY
    (distinct words — ≪ corpus), so the expensive explode never touches
    corpus volume.  Pure column expressions (substring over a character
    index sequence): zero Python, whole-stage codegen.

    100 TB: stage 1 is one token-keyed shuffle (map-side combined);
    stage 2 is vocabulary-sized — at web scale ~10⁷ distinct words vs
    ~10¹³ tokens, a 10⁶× reduction before any per-character work.
    """
    wc = word_frequencies(df, text_col)
    pairs = wc.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("cnt"))


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train ``n_merges`` BPE merges on the corpus — the classic
    scalable formulation: ONE corpus-sized pass (word frequencies),
    then every iteration operates on the vocabulary table only.

    Each word is held as a space-joined symbol string (chars to start);
    per round: count adjacent symbol pairs weighted by word frequency,
    pick the most frequent (ties → lexicographic, deterministic),
    apply the merge with one ``regexp_replace`` narrow map.  The only
    driver-side data is the argmax pair (1 row per round).

    Greedy/sequential by definition (merge i+1 depends on i) — the
    parallelism is WITHIN each round, as in every production BPE
    trainer; rounds are vocabulary-sized Spark jobs, not corpus-sized.
    Returns the merge list [(left, right), ...] in training order.

    Scale bound (research-grade trainer): every merge round is ONE
    driver roundtrip (the argmax collect) plus a checkpoint, so a
    production 50k-merge vocabulary means 50k scheduled jobs — days of
    driver-bound wall time regardless of cluster size.  The guard
    below caps n_merges at 4096; for production vocabularies train the
    merge table offline (or with a dedicated trainer) and use the
    scale-safe APPLY path (:func:`bpe_apply_merges` /
    :func:`bpe_encode`, a mapInPandas over the distinct-word
    vocabulary), which is also the hash-checked default.
    """
    if not 0 <= int(n_merges) <= 4096:
        raise ValueError(
            f"bpe_train: n_merges={n_merges} exceeds the 4096 cap — each "
            "merge is a driver roundtrip (docstring scale bound); train "
            "large vocabularies offline and use bpe_apply_merges/"
            "bpe_encode to apply them at scale"
        )
    spark = df.sparkSession
    vocab = (
        word_frequencies(df, text_col)
        .select(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                ),
            ).alias("sym"),
            "n",
        )
    )
    vocab = checkpoint(vocab)  # corpus pass runs ONCE
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        toks = F.split("sym", " ")
        pair_arr = F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                "\x1f", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        )
        best = (
            vocab.filter(F.size(toks) >= 2)
            .select(F.explode(pair_arr).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # every word fully merged
        left, right = best[0]["pair"].split("\x1f")
        merges.append((left, right))
        # merge every "left right" symbol bigram; \x00 guards keep the
        # replace anchored on symbol boundaries (start/end included)
        pat = (
            "(?<=^|\\s)" + _re_quote(left) + " " + _re_quote(right) + "(?=\\s|$)"
        )
        vocab = checkpoint(  # constant-depth lineage per round
            vocab.withColumn(
                "sym", F.regexp_replace("sym", pat, _repl_quote(left + right))
            )
        )
    return merges


def _re_quote(s: str) -> str:
    """Java-regex literal quoting for symbol text."""
    import re as _re

    return _re.escape(s)


def _repl_quote(s: str) -> str:
    """Quote a regexp_replace REPLACEMENT (Matcher.quoteReplacement):
    backslashes and ``$`` group refs are the only metacharacters."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def bpe_apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference BPE encode of one word: repeatedly merge the
    lowest-rank adjacent pair (ties cannot occur — ranks are unique),
    applying each chosen merge left-to-right — the standard algorithm,
    shared by the Spark path and tests."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and (syms[i], syms[i + 1]) == best_pair
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Apply trained BPE ``merges`` (from :func:`bpe_train`) to every
    document: output (id, array of BPE token strings, token count) —
    the ENCODE step that turns curation output into tokenizer-ready
    counts (real pipelines re-verify token budgets post-BPE, since
    whitespace counts undercount code/URLs).

    Scalable layout: the per-word merge loop (inherently sequential,
    Python) runs ONLY over the DISTINCT-WORD vocabulary via an
    Arrow-batched ``mapInPandas`` — at web scale ~10⁷ words, not ~10¹³
    tokens — producing a (word → token array) map that the corpus
    token stream equi-joins (broadcast when vocabulary-sized).  The
    corpus itself never meets Python.

    100 TB: one corpus explode + groupBy(doc) reassembly around a
    vocabulary-sized join; the merge table is a driver-held list
    (tokenizer merge files are ~10⁴–10⁵ entries — KBs) shipped in the
    UDF closure.
    """
    import pandas as _pd

    ranks = {p: i for i, p in enumerate(merges)}

    def run(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "word": pdf["word"],
                    "toks": [bpe_apply_merges(w, ranks) for w in pdf["word"]],
                }
            )

    toks = ws_tokens(text_col, distinct=False)
    # positional explode so reassembly preserves document token order
    words = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "word")
    )
    vocab_map = (
        words.select("word")
        .distinct()
        .mapInPandas(run, schema="word string, toks array<string>")
    )
    return (
        words.join(vocab_map, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias(out)
        )
        .withColumn("n_bpe_tokens", F.size(out).cast("long"))
    )


def surprisal_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Unigram-LM surprisal quality score: mean −ln p(tok) per document
    under the corpus's own unigram model with Laplace ``alpha``
    smoothing — the cheap perplexity proxy curation stacks use to rank
    docs before an expensive model-based filter (a doc of corpus-
    typical tokens scores low; rare-token noise scores high).  The
    corpus IS the model here; pass a pre-aggregated model for a fixed
    reference by adapting the token join upstream.

    Output: (id, n_tokens, mean_surprisal); zero-token docs dropped.

    Determinism: ln over exact-integer-derived doubles, one IEEE chain
    per token type — the DSIR importance_weights discipline, hash-green
    since r5.

    100 TB: one token-keyed aggregation (vocab-sized output, map-side
    combined), one vocab-sized join back to the token stream, one
    per-doc aggregation — never doc×vocab.
    """
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(text_col, distinct=False)).alias("__tok")
    )
    tf_ = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__tf"))
    vocab_n = tf_.agg(
        F.count(F.lit(1)).cast("double").alias("__v"),
        F.sum("__tf").cast("double").alias("__n"),
    )
    scored = (
        toks.join(tf_, "__tok")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            F.col(id_col),
            (
                -F.log(
                    (F.col("__tf").cast("double") + F.lit(float(alpha)))
                    / (F.col("__n") + F.lit(float(alpha)) * F.col("__v"))
                )
            ).alias("__s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (F.sum("__s") / F.count(F.lit(1))).alias("mean_surprisal"),
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Bigram-LM surprisal: mean −ln p(w2|w1) per document under the
    corpus's own bigram model with Laplace ``alpha`` smoothing,

        p(w2|w1) = (c(w1,w2) + α) / (c(w1,·) + α·V)

    where c(w1,·) is the bigram-start marginal and V the corpus token
    vocabulary — the next step up from :func:`surprisal_score` on the
    curation-scoring ladder (fluency-sensitive: shuffled or
    boilerplate-repetitive text scores differently from natural order
    even when the unigram mix is identical).  The corpus is the model;
    docs with fewer than 2 tokens produce no bigrams and are dropped.

    Output: (id, n_bigrams, mean_bigram_surprisal).

    100 TB: bigrams are built ARRAY-SIDE per document (one transform,
    no positional self-join), then one bigram-keyed aggregation
    (vocab²-bounded but corpus-sparse, map-side combined), one
    model-sized join back to the bigram stream, one per-doc
    aggregation.  Never doc×vocab, no window, no UDF.  r10 (r9 verdict
    #3): the surprisal is a function of the bigram TYPE, so it is
    evaluated once per type inside the model relation (c2 ⋈ c1 ⋈
    vocab — all model-sized) and the document-scale bigram stream
    joins ONCE on (w1, w2) instead of twice ((w1, w2) then a full
    re-shuffle onto w1); the log computes per type, not per instance.

    r14 floor work (r13 verdict #5): the prescribed semi-join prune is
    a NO-OP by construction here — the model is built from the same
    stream it scores, so every model type is observed (and per-doc
    type dedup before the join measured only 3.5% duplication at sf1 —
    recorded negative results).  The real lever was PARALLELISM: the
    tokenize→explode chain runs ~3× (c2 build, vocab, score join) at
    SCAN granularity — 2 tasks at sf1 / 5 at sf3 on a 32-thread box —
    so the guarded :func:`fan_out` respray in front of it is worth
    ~3× at sf3 (15.0 s → 4.9-5.1 s warm; sf1 6.5 s → 3.2-4.1 s) and is
    a no-op at production scan widths where splits already exceed the
    session parallelism.
    """
    toks = fan_out(df).select(
        F.col(id_col),
        ws_tokens(text_col, distinct=False).alias("__toks"),
    )
    bg = toks.filter(F.size("__toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__toks) - 1),"
                " i -> struct(__toks[i-1] AS w1, __toks[i] AS w2))"
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("__w1"), F.col("__bg.w2").alias("__w2"))
    # ONE corpus aggregation builds the model: c2 is checkpointed
    # (model-sized — bigram TYPES, not the token stream) because it
    # feeds both the marginal derivation and the score join, and the
    # marginal c1 = Σ_w2 c2 comes from c2 itself rather than a second
    # pass over the exploded bigram stream (r8 verdict: the extra
    # corpus pass was a third of the query's wall time).
    c2 = checkpoint(
        bg.groupBy("__w1", "__w2")
        .agg(F.count(F.lit(1)).alias("__c2"))
    )
    c1 = c2.groupBy("__w1").agg(F.sum("__c2").alias("__c1"))
    vocab = (
        toks.select(F.explode("__toks").alias("__tok"))
        .agg(F.count_distinct("__tok").cast("double").alias("__v"))
    )
    a = F.lit(float(alpha))
    model = (
        c2.join(c1, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1",
            "__w2",
            (
                -F.log(
                    (F.col("__c2").cast("double") + a)
                    / (F.col("__c1").cast("double") + a * F.col("__v"))
                )
            ).alias("__s"),
        )
    )
    # broadcast the MODEL side explicitly: it is bigram-TYPE-sized
    # (vocab-sparse — 9.3k rows on the sf1 fixture) at any corpus
    # scale, while the stream side grows with data; without the hint
    # Catalyst's size estimate at bench scale picked the 2.6M-row
    # STREAM as the broadcast build side (r12 plan audit), which
    # inverts exactly the side that stays small at 100 TB
    scored = bg.join(F.broadcast(model), ["__w1", "__w2"]).select(
        F.col(id_col), "__s"
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum("__s") / F.count(F.lit(1))).alias("mean_bigram_surprisal"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents for a bag of query
    terms under the Lucene-variant scoring

        idf(t)  = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)
        s(d)    = Σ_t idf(t) · tf(t,d)·(k1+1)
                        / (tf(t,d) + k1·(1 − b + b·len(d)/avgdl))

    Output: (id, n_terms, score), ties broken by id ascending.

    Determinism: doc lengths stay integral (long sums — exact), so N
    and avgdl are bit-identical across engines; each term contribution
    is one IEEE chain written in the same operation order as the SQL
    twin, rounded to 6 decimals and summed EXACTLY as DECIMAL(20,6)
    (the vocab_kl discipline) — no cross-partition float reduction.

    100 TB: the token stream is filtered to the query vocabulary
    BEFORE any shuffle (a |q|-term isin prunes the explode output to
    matching tokens only), so the per-(doc, term) aggregation, the df
    counts, and the scoring join are all query-sized, not
    corpus-vocabulary-sized.  Corpus-wide work is one doc-length
    aggregate (one broadcast row).  Top-k is TakeOrderedAndProject —
    per-partition heaps, no global sort.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = df.select(
        F.col(id_col), ws_tokens(text_col, distinct=False).alias("__toks")
    )
    dl = toks.select(
        F.col(id_col), F.size("__toks").cast("long").alias("__dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        (F.sum("__dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )
    tf_ = (
        toks.select(F.col(id_col), F.explode("__toks").alias("__t"))
        .filter(F.col("__t").isin(*[str(t) for t in query_terms]))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    dfc = tf_.groupBy("__t").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    k1c, bc = F.lit(float(k1)), F.lit(float(b))
    idf = F.log((F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1)
    denom = F.col("__tf") + k1c * (
        F.lit(1.0) - bc + bc * F.col("__dl").cast("double") / F.col("__avgdl")
    )
    contrib = (
        tf_.join(F.broadcast(dfc), "__t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.round(idf * F.col("__tf") * (k1c + 1) / denom, 6)
            .cast("decimal(20,6)")
            .alias("__c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("__c").cast("decimal(27,6)").alias("__score"),
    )
    return (
        scored.orderBy(F.col("__score").desc(), F.col(id_col))
        .limit(int(k))
        .select(id_col, "n_terms", F.col("__score").cast("double").alias("score"))
    )


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus summary — the dashboard numbers every curation
    run reports: docs, empty docs, total/distinct whitespace tokens,
    total chars, exact-duplicate text rate.

    Single pass over the corpus: one explode+agg for token totals
    (map-side combined) cross-joined with doc-level aggregates; the
    duplicate rate reuses the exact-dedup fingerprint groupBy.  All
    broadcast-sized intermediates (each aggregate is one row).
    """
    toks = ws_tokens(text_col, distinct=False)
    docs = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.length(F.trim(F.col(text_col))) == 0, 1).otherwise(0)
        ).alias("n_empty_docs"),
        F.sum(F.length(text_col)).alias("n_chars"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
    )
    vocab = (
        df.select(F.explode(toks).alias("__tok"))
        .agg(F.count_distinct("__tok").alias("n_distinct_tokens"))
    )
    dups = (
        df.groupBy(F.md5(F.col(text_col)).alias("__fp"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.sum(F.col("__n") - 1).cast("long").alias("n_exact_dup_docs")
        )
    )
    return docs.crossJoin(F.broadcast(vocab)).crossJoin(F.broadcast(dups))


#: Default Gopher-style rule thresholds for :func:`quality_filter`.
#: Published-rule shapes (word count bounds, mean word length band,
#: repetition caps, symbol/stopword screens) with fixture-scale-neutral
#: values; tune per corpus.
QUALITY_RULES: dict[str, float] = {
    "min_tokens": 3,
    "max_tokens": 100_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "max_top_2gram_frac": 0.30,
    "max_dup_line_frac": 0.30,
    "min_distinct_frac": 0.20,
}


def quality_filter(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite rule-based QUALITY FILTER (the C4/Gopher-rules shape):
    evaluate every rule on every doc in one pass, emit a ``keep``
    verdict AND the array of failed-rule names — the auditability
    property real curation runs need (you tune thresholds by looking
    at what each rule rejects, not just the survivor count).

    Rules (see :data:`QUALITY_RULES`): token-count bounds, mean token
    length band, top-2-gram fraction cap, duplicate-line fraction cap,
    distinct-token fraction floor.  Composes :func:`quality_features`'s
    arithmetic with :func:`repetition_features`'s signals in a single
    plan: one narrow feature map plus repetition's token-proportional
    2-gram count — sub-2-token docs fail ``min_tokens`` rather than
    silently vanishing with repetition's drop.

    100 TB: identical shuffle profile to ``repetition_features`` (its
    2-gram histogram is the only exchange); everything else rides the
    scan.  Output: (id, keep, failed array, the feature columns).
    """
    r = {**QUALITY_RULES, **(rules or {})}
    toks = ws_tokens(text_col, distinct=False)
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    feats = df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, sum_len / n).otherwise(F.lit(0.0)).alias("avg_token_len"),
        F.when(n > 0, F.size(F.array_distinct(toks)) / n)
        .otherwise(F.lit(0.0))
        .alias("distinct_frac"),
    )
    rep = repetition_features(df, text_col, id_col).select(
        id_col, "top_2gram_frac", "dup_line_frac"
    )
    j = feats.join(rep, id_col, "left").select(
        "*",
        F.coalesce("top_2gram_frac", F.lit(0.0)).alias("__t2"),
        F.coalesce("dup_line_frac", F.lit(0.0)).alias("__dl"),
    )
    checks: list[tuple[str, Column]] = [
        ("min_tokens", F.col("n_tokens") >= F.lit(float(r["min_tokens"]))),
        ("max_tokens", F.col("n_tokens") <= F.lit(float(r["max_tokens"]))),
        (
            "min_avg_token_len",
            F.col("avg_token_len") >= F.lit(float(r["min_avg_token_len"])),
        ),
        (
            "max_avg_token_len",
            F.col("avg_token_len") <= F.lit(float(r["max_avg_token_len"])),
        ),
        (
            "max_top_2gram_frac",
            F.col("__t2") <= F.lit(float(r["max_top_2gram_frac"])),
        ),
        (
            "max_dup_line_frac",
            F.col("__dl") <= F.lit(float(r["max_dup_line_frac"])),
        ),
        (
            "min_distinct_frac",
            F.col("distinct_frac") >= F.lit(float(r["min_distinct_frac"])),
        ),
    ]
    failed = F.filter(
        F.array(
            *[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                for name, ok in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return j.select(
        F.col(id_col),
        "n_tokens",
        "avg_token_len",
        "distinct_frac",
        F.col("__t2").alias("top_2gram_frac"),
        F.col("__dl").alias("dup_line_frac"),
        failed.alias("failed"),
    ).withColumn("keep", F.size("failed") == 0)


def repetition_features_narrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
) -> DataFrame:
    """SHUFFLE-FREE variant of :func:`repetition_features` for
    streaming ingest and narrow pipelines: the top-2-gram fraction is
    computed doc-locally with a higher-order expression (for each
    2-gram, count its occurrences in the doc's own 2-gram array —
    O(n²) per doc), so the whole operator is a narrow map with NO
    exchange and composes into `readStream` plans where the
    explode+groupBy version would need a streaming aggregate.

    The O(n²) term is bounded by truncating to the first
    ``max_tokens`` tokens (512² = 262k comparisons/doc — cheap JVM
    column work; repetition signals saturate long before that).  Use
    the shuffle version for exact stats on unbounded docs; outputs
    agree exactly on docs within the cap (test-pinned).  Sub-2-token
    docs are emitted with zero fractions (the streaming filter must
    see every row).
    """
    toks = F.slice(ws_tokens(text_col, distinct=False), 1, max_tokens)
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != F.lit(""))
    # sequence(1, 0) would count DOWN — docs under 2 tokens get an
    # explicitly empty gram array instead
    idxs = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idxs,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    n2 = F.size(grams)
    top = F.array_max(
        F.transform(
            grams, lambda g: F.size(F.filter(grams, lambda x: x == g))
        )
    )
    nl = F.size(lines)
    ndl = F.size(F.array_distinct(lines))
    return df.select(
        "*",
        F.when(n2 > 0, n2).otherwise(0).cast("long").alias("n_2grams"),
        F.when(n2 > 0, top).otherwise(0).cast("long").alias("top_2gram_n"),
        F.when(n2 > 0, top / n2).otherwise(0.0).alias("top_2gram_frac"),
        F.when(nl > 0, 1.0 - ndl / nl).otherwise(0.0).alias("dup_line_frac"),
    )


def quality_filter_stream(
    df: DataFrame,
    rules: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
) -> DataFrame:
    """Streaming-safe :func:`quality_filter`: identical rules and audit
    output, built ENTIRELY from narrow column expressions (repetition
    via :func:`repetition_features_narrow`) — no joins, no aggregates,
    so it drops straight into a `readStream` plan for quality gating
    at ingest.  Batch and stream take this same code path.
    """
    r = {**QUALITY_RULES, **(rules or {})}
    toks = ws_tokens(text_col, distinct=False)
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    rep = repetition_features_narrow(df, text_col, id_col, max_tokens)
    feats = rep.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, sum_len / n).otherwise(F.lit(0.0)).alias("avg_token_len"),
        F.when(n > 0, F.size(F.array_distinct(toks)) / n)
        .otherwise(F.lit(0.0))
        .alias("distinct_frac"),
        "top_2gram_frac",
        "dup_line_frac",
    )
    checks: list[tuple[str, Column]] = [
        ("min_tokens", F.col("n_tokens") >= F.lit(float(r["min_tokens"]))),
        ("max_tokens", F.col("n_tokens") <= F.lit(float(r["max_tokens"]))),
        (
            "min_avg_token_len",
            F.col("avg_token_len") >= F.lit(float(r["min_avg_token_len"])),
        ),
        (
            "max_avg_token_len",
            F.col("avg_token_len") <= F.lit(float(r["max_avg_token_len"])),
        ),
        (
            "max_top_2gram_frac",
            F.col("top_2gram_frac") <= F.lit(float(r["max_top_2gram_frac"])),
        ),
        (
            "max_dup_line_frac",
            F.col("dup_line_frac") <= F.lit(float(r["max_dup_line_frac"])),
        ),
        (
            "min_distinct_frac",
            F.col("distinct_frac") >= F.lit(float(r["min_distinct_frac"])),
        ),
    ]
    failed = F.filter(
        F.array(
            *[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                for name, ok in checks
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return feats.withColumn("failed", failed).withColumn(
        "keep", F.size("failed") == 0
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyword
    extraction / doc-representation pass (search indexing, topic
    drift monitoring, cheap doc vectors).

    tf = in-doc term count; idf = ln(N / df) with df = distinct-doc
    frequency; ties break on the term string so the top-k is a total
    order (hash-checkable).  Shuffle profile: one (doc, term) count
    (map-side combined), one term-keyed join against the
    vocabulary-sized df table, one per-doc window top-k (partition =
    doc — bounded by doc vocabulary, never corpus).  The doc count N
    is a broadcast scalar.  All token-proportional; no collects.
    """
    toks = ws_tokens(text_col, distinct=False)
    base = df.select(F.col(id_col), F.explode(toks).alias("__term"))
    tf_ = base.groupBy(id_col, "__term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = base.groupBy("__term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf_.join(df_, "__term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("__term").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (F.col("tf") * F.log(F.col("__n") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", F.col("rk").cast("long").alias("rk"))
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation / embedding-prep statistic (phrase detection à la
    word2vec's phrase pass; PMI matrices are the classic count-based
    embedding input).

    PMI(x,y) = ln( c(x,y)·T / (c(x)·c(y)) ) over ADJACENT pairs, with
    T = total adjacent-pair count; pairs below ``min_count`` are
    dropped (PMI is noise at low counts — the standard floor).

    Shuffle profile: one token count and one pair count (both
    explode+groupBy with map-side combine), then the pair table joins
    the vocabulary-sized unigram counts on each side — two key-equi
    joins, broadcast when the vocabulary allows.  T rides a broadcast
    scalar.  Never materializes a |V|² matrix — only observed pairs.
    """
    toks = ws_tokens(text_col, distinct=False)
    base = df.select(toks.alias("__t")).filter(F.size("__t") >= 2)
    pairs = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.struct(
                    F.element_at("__t", i).alias("x"),
                    F.element_at("__t", i + 1).alias("y"),
                ),
            )
        ).alias("__p")
    ).select(F.col("__p.x").alias("x"), F.col("__p.y").alias("y"))
    pc = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_count)
    )
    uni = (
        df.select(F.explode(toks).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    total = pairs.agg(F.count(F.lit(1)).cast("double").alias("__T"))
    return (
        pc.join(uni.withColumnRenamed("__tok", "x").withColumnRenamed("__c", "__cx"), "x")
        .join(uni.withColumnRenamed("__tok", "y").withColumnRenamed("__c", "__cy"), "y")
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            F.col("pair_n").cast("long").alias("pair_n"),
            F.log(
                F.col("pair_n") * F.col("__T")
                / (F.col("__cx") * F.col("__cy"))
            ).alias("pmi"),
        )
    )


def profile_columns(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Column profile in long format: (column, n_rows, n_nulls,
    n_distinct) per column — the first-look data-QA pass (null leakage,
    cardinality sanity) a curation pipeline runs before anything else.

    ``approx=False`` uses exact COUNT DISTINCT: Spark plans multiple
    distinct aggregates with an Expand (input × #profiled columns) —
    fine for a deliberate profiling pass, and exactly replayable by the
    oracle.  ``approx=True`` swaps in HLL ``approx_count_distinct``
    (single pass, no Expand) — the 100 TB default, tolerance-tested
    rather than hash-matched.
    """
    cols = cols or df.columns
    cd = F.approx_count_distinct if approx else F.count_distinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            cd(c).alias(f"{c}__distinct"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__distinct`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) "
            "AS (column, n_rows, n_nulls, n_distinct)"
        )
    )


#: control chars (keeping \t \n \r for the whitespace collapse) plus
#: zero-width/joiner/BOM codepoints — identical character class in the
#: Python UDF and the DuckDB oracle (explicit codepoints, no \s: the
#: engines disagree on \s's unicode coverage).
_STRIP_CLASS = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
    "\\u200b\\u200c\\u200d\\ufeff]"
)
_WS_CLASS = "[ \\t\\n\\r\\f\\v]+"


def normalize_text(
    df: DataFrame, text_col: str = "text", form: str = "NFC"
) -> DataFrame:
    """Unicode text normalization (the CCNet-style cleanup that runs
    before any hashing/dedup, so visually-identical strings share
    bytes): Unicode ``form`` normalization (NFC default — composed
    forms; NFKC for compatibility folding), zero-width/control-char
    strip, whitespace-run collapse to single spaces, trim.  Adds
    ``text_norm``.

    Unicode normalization needs a real Unicode library (no Spark
    built-in): an Arrow-batched pandas UDF over ``unicodedata`` — the
    sanctioned Python path, a narrow map with zero shuffle.  The
    DuckDB oracle replays it with ``nfc_normalize`` + the identical
    explicit character classes.
    """
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    strip_re = re.compile(_STRIP_CLASS)
    ws_re = re.compile(_WS_CLASS)

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            x = unicodedata.normalize(form, x)
            x = strip_re.sub("", x)
            x = ws_re.sub(" ", x)
            return x.strip(" ")

        return s.map(one)

    return df.withColumn("text_norm", _norm(F.col(text_col)))


#: tracking parameters stripped by url_normalize — the industry-common
#: set (Google/Facebook/Microsoft click ids + utm_* campaign tags).
URL_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)"


def url_normalize(
    df: DataFrame,
    url_col: str,
    out: str = "url_norm",
) -> DataFrame:
    """Canonicalize URLs for web-corpus dedup — the step before
    exact-dedup by URL that collapses the crawl's cosmetic variants:

    - fragment dropped (``#…`` never reaches the server);
    - scheme and host lowercased (case-insensitive per RFC 3986);
    - default ports stripped (``:80`` for http, ``:443`` for https);
    - tracking params removed (:data:`URL_TRACKING_PARAM_RE` — utm_*,
      fbclid, gclid, msclkid, ref), remaining query params SORTED
      (param order is almost never semantic; sorting canonicalizes
      ``?a=1&b=2`` vs ``?b=2&a=1``), empty query dropped;
    - trailing slash stripped from non-root paths (``/docs/`` ≡
      ``/docs`` for every mainstream server; the root ``/`` stays).

    Path case and percent-encoding are NOT touched (both can be
    semantic).  The WHOLE authority is lowercased, so a (rare,
    deprecated) user:pass@ userinfo section is lowercased with the
    host — acceptable for crawl dedup, documented here.  NULL or
    scheme-less inputs read NULL — a relative URL has no canonical
    absolute form without a base.

    Output: input columns + ``out``.  100 TB: one narrow map — pure
    regexp/array arithmetic, no UDF, no shuffle.
    """
    u = F.col(url_col)
    pre = {
        "__sch": F.lower(
            F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        ),
        "__hp": F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1)),
        "__pth": F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1),
        # The query lives strictly BEFORE the fragment: extract it from
        # the pre-'#' prefix, not the whole URL — an unanchored \?(…)
        # would steal a '?' inside the fragment of hash-route SPA URLs
        # like https://app.com/page#/route?id=5 (r9 advice).
        "__q": F.regexp_extract(
            F.regexp_extract(u, r"^[^#]*", 0), r"\?(.*)", 1
        ),
    }
    d = df.withColumns(pre)
    hp, pth = F.col("__hp"), F.col("__pth")
    host = (
        F.when(
            (F.col("__sch") == "http") & hp.endswith(":80"),
            F.substring(hp, 1, F.length(hp) - 3),
        )
        .when(
            (F.col("__sch") == "https") & hp.endswith(":443"),
            F.substring(hp, 1, F.length(hp) - 4),
        )
        .otherwise(hp)
    )
    path = F.when(pth == "", F.lit("/")).otherwise(pth)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    params = F.filter(
        F.split(F.col("__q"), "&"),
        lambda p: (p != "") & ~p.rlike(URL_TRACKING_PARAM_RE),
    )
    qnorm = F.array_join(F.array_sort(params), "&")
    norm = F.concat(
        F.col("__sch"),
        F.lit("://"),
        host,
        path,
        F.when(qnorm != "", F.concat(F.lit("?"), qnorm)).otherwise(F.lit("")),
    )
    return d.withColumn(
        out, F.when(u.isNotNull() & (F.col("__sch") != ""), norm)
    ).drop("__sch", "__hp", "__pth", "__q")


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classic readability quality signals per document — Flesch
    Reading Ease and Flesch-Kincaid grade level (Kincaid et al. 1975,
    public formulas), the curation-ladder step between raw
    length/punct ratios and LM surprisal:

        flesch   = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
        fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59

    with W whitespace words, S sentence-ending punctuation runs
    ([.!?]+, floored at 1 so headline-style fragments still score),
    and Y syllable groups approximated as maximal [aeiouy]+ runs of
    the lowercased text (the standard dictionary-free heuristic —
    vowel groups cannot span whitespace, so the whole-text count
    equals the per-word sum).  Counts are exact integers; each score
    is ONE fixed IEEE chain on those integers, ROUND-6 — engine-
    replayable, the repo-wide hash discipline.  Zero-word docs read
    NULL scores (no evidence, not zero).

    Output: (id, n_words, n_sentences, n_syllables, flesch6,
    fk_grade6).

    100 TB: a narrow map — regex counts + arithmetic inside
    whole-stage codegen; no shuffle, no UDF, scales with the scan.
    """
    c = F.col(text_col)
    words = F.size(ws_tokens(c, distinct=False)).cast("bigint")
    sents = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)).cast("bigint"),
    )
    syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), 0)
    ).cast("bigint")
    wps = words.cast("double") / sents.cast("double")
    spw = syll.cast("double") / words.cast("double")
    nz = words > 0
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        F.when(
            nz,
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
            )
            + F.lit(0.0),
        ).alias("flesch6"),
        F.when(
            nz,
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
            )
            + F.lit(0.0),
        ).alias("fk_grade6"),
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,

        H = −Σ_t (c_t/n)·ln(c_t/n)    (nats)

    — the repetitiveness signal the ratio heuristics in
    :func:`quality_features` approximate: spam/keyword-stuffed and
    template docs score LOW entropy for their length, natural prose
    sits near ln(n_distinct).  Zero-token docs are dropped (entropy of
    an empty distribution is undefined, not 0).

    Output: (id, n_tokens, n_distinct, entropy6).

    Determinism: each −(c/n)·ln(c/n) term is ROUND-6 (the vocab_kl ln
    convention — libm vs JVM ln differ in the last ulp) and summed
    through DECIMAL(20,6) — exact, associative, order-free.

    100 TB: ONE exchange — an explicit repartition on the doc id
    satisfies the (doc, token) count aggregate, the per-doc total
    window, and the final per-doc fold alike (hash(doc) clusters every
    one of those keys); nothing is vocabulary- or corpus-keyed, so
    stopword skew never concentrates (contrast unigram_logprob's
    token-keyed model join — here the "model" is each doc itself).
    """
    d = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(ws_tokens(text_col, distinct=False)).alias("__tok")
    )
    npart = df.sparkSession.sparkContext.defaultParallelism
    cnt = (
        d.repartition(npart, id_col)
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wd = Window.partitionBy(id_col)
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = (F.round(-p * F.log(p), 6) + F.lit(0.0)).cast("decimal(20,6)")
    return (
        cnt.withColumn("__n", F.sum("__c").over(wd))
        .groupBy(id_col)
        .agg(
            F.max("__n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(term).cast("double").alias("entropy6"),
        )
    )


def good_turing_counts(
    df: DataFrame,
    text_col: str = "text",
    max_r: int | None = None,
) -> DataFrame:
    """Good–Turing frequency-of-frequencies table with the smoothed
    count estimate

        r* = (r+1) · N_{r+1} / N_r

    over the corpus unigram counts — the classical unseen-mass
    estimator (P₀ = N₁/N) and the smoothing table a held-out-free LM
    needs.  ``max_r`` truncates the table (the usual Katz cutoff is
    small, e.g. 5–10); by default every observed r is reported.  The
    largest r (no r+1 neighbor) reads NULL r_star6, as does any gap in
    the count spectrum — honest NULLs where the estimator is
    undefined, smoothing choices (fit-and-extrapolate) stay upstream.

    Output: (r, n_r, r_star6), one row per observed frequency r.

    Determinism: r, N_r exact integers; r* is one IEEE divide ROUND-6.

    100 TB: the corpus pass is :func:`word_frequencies` (map-side
    combined, vocabulary-sized output); counts-of-counts is a second
    tiny aggregation over the vocab relation; the r+1 lookup is a
    self-join on the counts-of-counts table — tens of rows.
    """
    freq = word_frequencies(df, text_col)
    nr0 = freq.groupBy(F.col("n").cast("bigint").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    # the N_{r+1} lookup reads the FULL spectrum even under a cutoff:
    # Katz truncation limits which r rows are REPORTED, not which
    # neighbor counts exist — capping before the self-join would zero
    # the boundary r's estimator (found by the r13 differential fuzz).
    nr = nr0.filter(F.col("r") <= int(max_r)) if max_r is not None else nr0
    nxt = nr0.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("__n_r1"))
    star = (
        F.round(
            (F.col("r") + 1).cast("double")
            * F.col("__n_r1").cast("double")
            / F.col("n_r").cast("double"),
            6,
        )
        + F.lit(0.0)
    )
    return (
        nr.join(nxt, "r", "left")
        .select("r", "n_r", F.when(F.col("__n_r1").isNotNull(), star).alias("r_star6"))
    )


def chao1_richness(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate over the corpus unigrams —
    "how many word types does the POPULATION this corpus samples
    have?", the lower-bound estimator (Chao 1984, bias-corrected
    form) built from the same frequency-of-frequencies spectrum
    :func:`good_turing_counts` reads:

        Ŝ = V + f₁·(f₁ − 1) / (2·(f₂ + 1))

    (V = observed vocabulary, f₁ = singletons, f₂ = doubletons — the
    bias-corrected form is defined even when f₂ = 0, so no special
    case).  Alongside it, Good's sample-coverage estimate
    Ĉ = 1 − f₁/N (the fraction of the population's token mass the
    observed vocabulary accounts for — the Good–Turing P₀ complement).
    Together they answer the corpus-curation question "is the crawl's
    vocabulary saturating, or does unseen long tail dominate?" —
    dedup/filter stages that crater Ĉ or spike Ŝ/V are destroying
    tail vocabulary.

    Output: ONE row — (n_tokens, vocab, f1, f2, chao1_6, coverage6).
    n_tokens = 0 reads NULL estimates (no convention invented).

    Determinism: N, V, f₁, f₂ are exact integers off the vocab
    relation; each estimate is one IEEE chain ROUND-6 (+0.0).

    100 TB: the ONLY corpus-sized pass is :func:`word_frequencies`
    (map-side combined token shuffle); everything after is one
    aggregate over the vocabulary relation folding to a single row —
    no second shuffle, no window.
    """
    freq = word_frequencies(df, text_col)
    agg = freq.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.coalesce(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("n") == 2, 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("f2"),
    )
    v = F.col("vocab").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    ntok = F.col("n_tokens").cast("double")
    chao1 = F.when(
        F.col("n_tokens") > 0,
        F.round(v + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)), 6) + F.lit(0.0),
    )
    cov = F.when(
        F.col("n_tokens") > 0,
        F.round(1.0 - f1 / ntok, 6) + F.lit(0.0),
    )
    return agg.select(
        "n_tokens", "vocab", "f1", "f2",
        chao1.alias("chao1_6"), cov.alias("coverage6"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_v: int = 10_000,
) -> DataFrame:
    """Zipf's-law fit over the top-``top_v`` corpus unigrams: OLS of
    ln(freq) on ln(rank) (rank 1 = most frequent; ties broken by token
    ascending — deterministic), reporting the slope (Zipf exponent ≈
    −1 for natural language — a corpus whose exponent drifts far off
    is template-heavy or deduplicated into unnaturalness), intercept,
    and r².

    Output: ONE row (n_terms, slope6, intercept6, r2_6).

    Determinism: ranks are exact integers from the two-pass counter;
    ln(rank)/ln(freq) land as INTEGER MICRO-UNITS (ROUND(ln·10⁶) — the
    embedding_covariance micro-unit discipline), every moment is an
    exact DECIMAL(38,0) sum of int64 products, and the closed-form OLS
    readout is one IEEE chain ROUND-6 from those exact integers.
    Degenerate spectra (fewer than 2 terms, or zero ln-rank variance)
    read NULL fit columns.

    100 TB: the corpus pass is :func:`word_frequencies`; ranking the
    top-V terms is a TakeOrderedAndProject-sized truncation ONLY when
    V is driver-safe — here it rides the scalable two-pass
    :func:`~pigout_spark.operators.sorting.row_rank` over the
    vocabulary relation (never a keyless window), then V-sized moment
    aggregation.
    """
    from pigout_spark.operators.sorting import row_rank

    freq = word_frequencies(df, text_col)
    ranked = row_rank(
        freq, F.col("n").desc(), F.col("word").asc(), out="__rank"
    ).filter(F.col("__rank") <= int(top_v))
    dec = "decimal(38,0)"
    lx = F.round(F.log(F.col("__rank").cast("double")) * 1e6, 0).cast("bigint")
    ly = F.round(F.log(F.col("n").cast("double")) * 1e6, 0).cast("bigint")
    t = ranked.select(lx.alias("__x"), ly.alias("__y"))
    m = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(F.col("__x").cast(dec)).alias("sx"),
        F.sum(F.col("__y").cast(dec)).alias("sy"),
        F.sum((F.col("__x") * F.col("__y")).cast(dec)).alias("sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast(dec)).alias("sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec)).alias("syy"),
    )
    # readout: exact integer micro-moments → one IEEE chain.  Units:
    # sx, sy are micros (1e-6), the second moments micro² (1e-12) —
    # the 1e-12 factors cancel inside slope/r² and divide out of the
    # intercept explicitly.
    n = F.col("n_terms").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    ok = (F.col("n_terms") > 1) & (vx > 0)
    slope = F.when(ok, F.round(cov / vx, 6) + F.lit(0.0))
    intercept = F.when(
        ok, F.round((sy - (cov / vx) * sx) / n / 1e6, 6) + F.lit(0.0)
    )
    r2 = F.when(
        ok & (vy > 0), F.round(cov * cov / (vx * vy), 6) + F.lit(0.0)
    )
    return m.select(
        "n_terms",
        slope.alias("slope6"),
        intercept.alias("intercept6"),
        r2.alias("r2_6"),
    )
