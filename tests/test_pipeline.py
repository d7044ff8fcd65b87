"""Pipeline extension semantics: dedup, similarity, text, multimodal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pigout_spark.pipeline import graph
from pigout_spark.pipeline.dedup import (
    dedup_clusters,
    exact_dedup,
    exact_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16,
)
from pigout_spark.pipeline.multimodal import (
    binarize,
    extract_meta,
    fake_decode_image,
    sample_frames,
)
from pigout_spark.pipeline.similarity import (
    ann_topk,
    brute_force_topk,
    random_hyperplanes,
)
from pigout_spark.pipeline.text import lang_id, quality_features, token_counts


def docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    df = docs(spark, [(1, "a b"), (2, "a b"), (3, "c")])
    groups = exact_groups(df, ["text"], "doc_id")
    got = {r.rep_id: r.n_dups for r in groups.collect()}
    assert got == {1: 2, 3: 1}
    kept = exact_dedup(df, ["text"], "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_minhash_identical_docs_always_pair(spark):
    df = docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4"), (3, "zz yy xx qq")])
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs  # identical token sets share every band
    assert (1, 3) not in pairs and (2, 3) not in pairs  # disjoint sets


def test_ngram_jaccard_exact_values(spark):
    df = docs(spark, [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")])
    got = {(r.doc_a, r.doc_b): r.jac for r in
           ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()}
    assert got == {(1, 2): 3 / 5}  # |∩|=3, |∪|=5


def test_jaccard_length_filter_float_boundary(spark):
    """A pair whose exact Jaccard EQUALS the threshold must survive the
    PPJoin length filter: 0.7*10 = 7.000000000000001 in IEEE, so without
    the +1e-9 slack the sz=7 ⊂ sz=10 pair is dropped before exact
    verification ever sees it (ADVICE r3)."""
    seven = " ".join(f"t{i}" for i in range(7))
    ten = " ".join(f"t{i}" for i in range(10))
    df = docs(spark, [(1, seven), (2, ten)])
    got = {(r.doc_a, r.doc_b): r.jac for r in
           ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.7).collect()}
    assert got == {(1, 2): 0.7}  # |∩|=7, |∪|=10, jac == t exactly


def test_jaccard_max_df_caps_hub_tokens(spark):
    rows = [(i, f"hub unique{i}") for i in range(6)]
    df = docs(spark, rows)
    no_cap = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=None)
    capped = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=3)
    assert no_cap.count() == 15  # 'hub' pairs everything: C(6,2)
    assert capped.count() == 0  # hub token dropped, nothing shares


def test_jaccard_pair_volume_bounded_by_capped_df(spark):
    """Skewed corpus: candidate volume must stay ≤ Σ_tok C(min(df,cap), 2)
    — i.e. tokens past the cap contribute ZERO pairs, so a single hub
    token cannot blow up the join (the 100 TB guard, on by default)."""
    from pyspark.sql import functions as F  # noqa: F811

    # 40 docs all sharing 'hub'; pairs of docs additionally share 'g<k>'
    rows = [(i, f"hub g{i // 2} u{i}") for i in range(40)]
    df = docs(spark, rows)
    max_df = 5
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0, max_df=max_df)
    # bound: hub (df=40 > 5) contributes 0; each g<k> (df=2) C(2,2)=1
    toks = df.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dfs = {r.tok: r.n for r in toks.groupBy("tok").agg(F.count("*").alias("n")).collect()}
    bound = sum(
        (n * (n - 1)) // 2 for n in (min(v, max_df) for v in dfs.values())
    )
    got = pairs.count()
    assert got <= bound
    assert got == 20  # exactly the g<k> pairs; hub contributed nothing


def test_jaccard_maxdf_stats_reports_drops(spark):
    """The df-cap's semantics shift must be measurable: the stats
    helper reports how many distinct tokens the cap would remove (zero
    when it never bites)."""
    from pigout_spark.pipeline.dedup import jaccard_maxdf_stats

    rows = [(i, f"hub unique{i}") for i in range(6)]
    df = docs(spark, rows)
    r = jaccard_maxdf_stats(df, "doc_id", "text", max_df=3).first()
    assert r.dropped_tokens == 1  # 'hub' (df=6 > 3)
    assert r.max_observed_df == 6
    assert r.affected_rows == 6
    quiet = jaccard_maxdf_stats(df, "doc_id", "text", max_df=100).first()
    assert quiet.dropped_tokens == 0 and quiet.affected_rows == 0


def test_dedup_family_adversarial_skew(spark):
    """Adversarial corpus: 200 byte-identical docs (one degenerate
    bucket/band everywhere), 50 empty docs, 100 docs tied together by a
    single hub token.  Every dedup operator must (a) stay correct,
    (b) keep candidate volume at its combinatorial bound — the hub
    token contributes ZERO jaccard pairs under the default cap, and
    identical docs pair exactly once despite colliding in every band."""
    from pigout_spark.pipeline.dedup import simhash_hamming_pairs

    n_id, n_empty, n_hub, cap = 100, 50, 150, 120
    rows = (
        [(i, "same text tokens here") for i in range(n_id)]
        + [(n_id + i, "") for i in range(n_empty)]
        + [(n_id + n_empty + i, f"hub only{i}") for i in range(n_hub)]
    )
    df = docs(spark, rows)
    ident = {(a, b) for a in range(n_id) for b in range(a + 1, n_id)}
    empty_lo, empty_hi = n_id, n_id + n_empty

    # minhash: the identical block collides in EVERY band — the
    # exactly-once device must emit each pair once, not once per band
    mh = minhash_lsh_pairs(df, "doc_id", "text").collect()
    mh_pairs = {(r.doc_a, r.doc_b) for r in mh}
    assert len(mh) == len(mh_pairs)  # no duplicate emissions
    assert {p for p in mh_pairs if p[0] < n_id and p[1] < n_id} == ident

    # simhash pairs: identical fingerprints agree on every block; still
    # exactly-once, and empty docs are excluded (no tokens → no votes)
    sh = simhash_hamming_pairs(df, "doc_id", "text", max_hamming=3).collect()
    sh_pairs = {(r.doc_a, r.doc_b) for r in sh}
    assert len(sh) == len(sh_pairs)
    assert {p for p in sh_pairs if p[0] < n_id and p[1] < n_id} >= ident
    assert not any(
        empty_lo <= a < empty_hi or empty_lo <= b < empty_hi
        for a, b in sh_pairs
    )

    # jaccard: the hub token (df=150 > cap) contributes NOTHING, while
    # the identical block's tokens (df=100 ≤ cap) survive — the pair
    # set is exactly the identical block at jac=1.0
    jc = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5, max_df=cap)
    jrows = jc.collect()
    assert {(r.doc_a, r.doc_b) for r in jrows} == ident
    assert all(r.jac == 1.0 for r in jrows)


def test_pair_joins_keep_pinned_parallelism_under_skew(spark):
    """The candidate joins must keep their EXPLICIT partition count in
    the plan (plans.partitioning.pin_partitions): without it AQE sizes
    the stage by shuffle-input bytes and coalesces the amplifying pair
    join to one task (SCALE.md 'Pair-join parallelism')."""
    from pigout_spark.pipeline.dedup import simhash_hamming_pairs

    rows = [(i, "same text tokens here") for i in range(100)]
    df = docs(spark, rows)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for q in (
        minhash_lsh_pairs(df, "doc_id", "text"),
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5),
        simhash_hamming_pairs(df, "doc_id", "text"),
    ):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert f", {n}), REPARTITION_BY_NUM" in plan, plan


def test_simhash_properties(spark):
    df = docs(spark, [(1, "a b c"), (2, "a b c"), (3, "p q r s t")])
    got = {r.doc_id: r.simhash for r in simhash16(df, "doc_id", "text").collect()}
    assert got[1] == got[2]  # same tokens → same fingerprint
    assert 0 <= got[1] < (1 << 16)


def test_simhash_hamming_pairs_matches_all_pairs_oracle(spark):
    """Block-bucketed Hamming search ≡ brute-force all-pairs check (the
    pigeonhole argument), pairs emitted exactly once."""
    from pigout_spark.pipeline.dedup import simhash_hamming_pairs

    rows = [(i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(6))) for i in range(30)]
    df = docs(spark, rows)
    fp = {r.doc_id: r.simhash for r in simhash16(df, "doc_id", "text").collect()}
    expect = {
        (a, b, bin(fp[a] ^ fp[b]).count("1"))
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    got = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_hamming_pairs(df, "doc_id", "text", max_hamming=3).collect()
    ]
    assert len(got) == len(set(got))  # exactly-once emission
    assert set(got) == expect


def test_brute_force_topk_orders_by_cosine(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
        Row(vec_id=3, embedding=[1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows)
    top = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.rn) for r in top.orderBy("rn").collect()]
    assert got == [(3, 1), (1, 2)]  # 3 is closer to [1,0] than 1


def test_ann_topk_within_bucket(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows)
    planes = random_hyperplanes(dim=8, n_planes=4)
    out = ann_topk(emb, emb.filter(F.col("vec_id") < 3), planes, k=2)
    rows_out = out.collect()
    assert all(r.rn <= 2 for r in rows_out)
    assert all(r.q_id != r.neighbor_id for r in rows_out)
    # approximate ⊆ exact candidate space: cosines must be valid
    assert all(-1.0 - 1e-9 <= r.cos <= 1.0 + 1e-9 for r in rows_out)


def test_token_counts(spark):
    df = docs(spark, [(1, "ab cd12 ef")])
    r = token_counts(df).first()
    assert r.n_ws_tokens == 3
    assert r.n_alpha_runs == 3  # ab, cd, ef
    assert r.n_bpeish == 4  # ab, cd, 12, ef
    assert r.n_chars == 10


def test_quality_features(spark):
    df = docs(spark, [(1, "the the fast")])
    r = quality_features(df).first()
    assert r.n_tokens == 3 and r.n_distinct == 2
    assert math.isclose(r.stop_ratio, 2 / 3)
    assert math.isclose(r.avg_token_len, (3 + 3 + 4) / 3)
    assert 0.0 <= r.quality <= 1.0


def test_lang_id_precedence(spark):
    df = spark.createDataFrame(
        [(1, "the fast thing"), (2, "le chat et la")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.predicted for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "fr"}


def test_lang_id_on_real_multilingual_text(spark):
    """Genuinely multilingual sentences — script ranges catch the
    non-Latin scripts (incl. kana-over-CJK precedence for Japanese) and
    the stopword+n-gram score separates the Latin languages."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog in the field", "en"),
        (2, "Le chat est sur la table et les enfants jouent dans le jardin", "fr"),
        (3, "El perro come la comida que los niños dejaron en la mesa", "es"),
        (4, "Der Hund und die Katze spielen nicht mit dem Ball", "de"),
        (5, "这是一个中文句子用来测试语言识别功能", "zh"),
        (6, "Это русский текст для проверки определения языка", "ru"),
        (7, "これは日本語のテストです、漢字も含まれています", "ja"),
        (8, "한국어 텍스트입니다 언어 감지를 테스트합니다", "ko"),
        (9, "", "en"),  # empty text: deterministic default
        # r4 widening — the pt/es and it/es pairs are the hard cases
        # (shared Romance stopwords); distinctive tokens must win
        (10, "Não vou para a praia porque está chovendo muito hoje", "pt"),
        (11, "A informação não está disponível em um arquivo com os dados", "pt"),
        (12, "Il gatto è sul tavolo e non sono sicuro che anche il cane dorma", "it"),
        (13, "La situazione della città è difficile per una famiglia", "it"),
        (14, "Het is een mooie dag en ik ga met de fiets naar het werk", "nl"),
        (15, "Dat huis van mijn ouders is niet ver van een klein bos", "nl"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    got = {r.doc_id: r.predicted for r in lang_id(df).collect()}
    assert got == {i: lang for i, _, lang in rows}


def test_multimodal_meta_and_frames(spark):
    df = docs(spark, [(1, "x" * 130), (2, "y")])
    b = binarize(df, "text")
    meta = {r.doc_id: r for r in extract_meta(b).collect()}
    assert meta[1].byte_len == 130 and meta[1].n_chunks == 3
    assert meta[2].byte_len == 1 and meta[2].first_byte == ord("y")
    frames = sample_frames(b, stride=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert by_doc[1] == [0, 2]  # chunks 0,1,2 → stride 2 keeps 0 and 2
    assert by_doc[2] == [0]


def test_fake_decode_is_deterministic():
    a = fake_decode_image(b"\x00" * 130)
    assert a == {"width": 3, "height": 3, "mode": "RGB"}
    import pytest as _pytest

    from pigout_spark.pipeline.multimodal import decode_image, imaging_available

    if not imaging_available():
        with _pytest.raises(NotImplementedError):
            decode_image(b"123")


def test_decode_images_probe_gated(spark):
    """decode_images: 'fake' always works (deterministic schema-true
    stand-in); 'auto' matches whichever path the probe selects; 'real'
    without pillow fails at plan build, not mid-job."""
    import pytest as _pytest

    from pigout_spark.pipeline.multimodal import decode_images, imaging_available

    df = binarize(docs(spark, [(1, "x" * 130), (2, "y")]), "text")
    fake = {r.doc_id: r for r in decode_images(df, use="fake").collect()}
    assert fake[1].width == 3 and fake[1].height == 3 and fake[1].mode == "RGB"
    assert fake[2].width == 2 and fake[2].height == 1 and fake[2].mode == "L"
    if imaging_available():
        # utf-8 text is not a valid image — the REAL path must try to
        # decode and fail, proving it is not the fake
        with _pytest.raises(Exception):
            decode_images(df, use="real").collect()
    else:
        with _pytest.raises(NotImplementedError):
            decode_images(df, use="real")
        # auto falls back to the fake
        auto = {r.doc_id: r for r in decode_images(df, use="auto").collect()}
        assert {k: (v.width, v.height) for k, v in auto.items()} == {
            k: (v.width, v.height) for k, v in fake.items()
        }


def golden_png_1x1_gray() -> bytes:
    """A valid 1×1 8-bit grayscale PNG built byte-for-byte from the PNG
    spec (signature, IHDR, one zlib scanline, IEND + CRCs) — stdlib
    only, so the REAL decode expectation is pinned without pillow."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)  # 1x1, gray
    idat = zlib.compress(b"\x00\x00")  # filter byte + one pixel
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def golden_bmp_2x3_rgb() -> bytes:
    """A valid 2×3 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER +
    4-byte-padded bottom-up rows) from the BMP spec."""
    import struct

    row = b"\x00\x00\xff" * 2 + b"\x00\x00"  # 2 px + pad to 8 bytes
    px = row * 3
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(px), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 2, 3, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + info + px


#: PIL's expected output for the spec-constructed goldens — (w, h, mode)
REAL_DECODE_GOLDEN = {"png": (1, 1, "L"), "bmp": (2, 3, "RGB")}


def test_real_decode_golden_pin(spark):
    """The use='real' branch is diff-pinned: spec-valid image bytes with
    their PIL-decoded (width, height, mode) stated as goldens.  Where
    pillow exists the real branch EXECUTES against them end-to-end
    (decode_image and the mapInPandas decode_images path); in this
    container the canonical NotImplementedError is asserted and the
    goldens stand as the real branch's contract."""
    import pytest as _pytest

    from pigout_spark.pipeline.multimodal import (
        decode_image,
        decode_images,
        imaging_available,
    )

    png, bmp = golden_png_1x1_gray(), golden_bmp_2x3_rgb()
    if not imaging_available():
        with _pytest.raises(NotImplementedError):
            decode_image(png)
        _pytest.skip("pillow absent — goldens pin the real branch's contract")
    w, h, mode = REAL_DECODE_GOLDEN["png"]
    assert decode_image(png) == {"width": w, "height": h, "mode": mode}
    w, h, mode = REAL_DECODE_GOLDEN["bmp"]
    assert decode_image(bmp) == {"width": w, "height": h, "mode": mode}
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(bmp))],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: (r.width, r.height, r.mode)
        for r in decode_images(df, use="real").collect()
    }
    assert got == {1: REAL_DECODE_GOLDEN["png"], 2: REAL_DECODE_GOLDEN["bmp"]}


def test_ivf_assign_and_topk(spark):
    import random

    rng = random.Random(3)
    from pyspark.sql import Row

    from pigout_spark.pipeline.similarity import ivf_assign, ivf_topk

    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows)
    cells = ivf_assign(emb, n_centroids=4)
    got = {r.vec_id: r.cell for r in cells.collect()}
    assert len(got) == 40
    assert all(0 <= c < 4 for c in got.values())
    # a centroid must live in its own cell (cosine with itself = 1)
    assert all(got[i] == i for i in range(4))
    top = ivf_topk(emb, query_ids_max=2, k=3)
    out = top.collect()
    assert all(r.rn <= 3 and r.q_id != r.neighbor_id for r in out)


def test_embedding_dedup_multiband_and_bucket_cap(spark, sf_dir):
    """Multi-band codes find a SUPERSET of any single band's pairs
    (exactly once each); max_bucket caps candidate volume per bucket."""
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.dedup import embedding_cosine_dups

    emb = load_table(spark, sf_dir, "embeddings")
    b0 = random_hyperplanes(64, 6, seed=1000)
    b1 = random_hyperplanes(64, 6, seed=2000)
    single = {(r.id_a, r.id_b) for r in
              embedding_cosine_dups(emb, b0, threshold=0.3).collect()}
    multi_rows = embedding_cosine_dups(emb, [b0, b1], threshold=0.3).collect()
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # exactly-once across bands
    assert single <= multi
    assert len(multi) > len(single)  # second band adds recall

    # bucket cap: dropping buckets larger than the cap can only shrink
    # the candidate set, and every surviving bucket obeys the cap
    capped = embedding_cosine_dups(emb, b0, threshold=-1.0, max_bucket=20)
    n_cap = capped.count()
    uncapped = embedding_cosine_dups(emb, b0, threshold=-1.0)
    assert n_cap <= uncapped.count()
    from pyspark.sql import functions as F  # noqa: F811

    from pigout_spark.pipeline.similarity import as_double, lsh_bucket

    sizes = (
        emb.select(lsh_bucket(as_double("embedding"), b0).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    )
    bound = sum(r.n * (r.n - 1) // 2 for r in sizes.collect() if r.n <= 20)
    assert n_cap == bound


def test_ivf_nprobe_improves_recall(spark, sf_dir):
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 30")
    k = 10
    exact = {(r.q_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k).collect()}
    r1 = {(r.q_id, r.neighbor_id) for r in ivf_topk(emb, 30, k, nprobe=1).collect()}
    r3 = {(r.q_id, r.neighbor_id) for r in ivf_topk(emb, 30, k, nprobe=3).collect()}
    rec1 = len(r1 & exact) / len(exact)
    rec3 = len(r3 & exact) / len(exact)
    assert rec3 > rec1  # probing more cells must raise recall
    assert rec3 >= 0.6  # measured 0.697 at nprobe=3, nlist=8 on the fixture


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """The approximate paths must actually approximate: recall@10
    against the exact brute-force baseline on the fixture embeddings.
    Everything is seeded/deterministic, so these are fixed values
    (measured: IVF 0.46 with cell-share chance at 0.125; LSH-3-planes
    0.213 with bucket-share chance at 0.125) — the floors guard
    regressions in centroid assignment / bucket coding, and document
    the recall-vs-cost knob (more planes = smaller buckets = cheaper
    join, lower recall: 6 planes measures 0.043)."""
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
        random_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 30")
    k = 10
    exact = {(r.q_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k).collect()}
    assert len(exact) == 300  # 30 queries × k

    ivf = {(r.q_id, r.neighbor_id) for r in ivf_topk(emb, 30, k, n_centroids=8).collect()}
    assert len(ivf & exact) / len(exact) >= 0.40  # >> 1/8 chance

    planes = random_hyperplanes(64, 3)
    ann = {(r.q_id, r.neighbor_id) for r in ann_topk(emb, queries, planes, k).collect()}
    assert len(ann & exact) / len(exact) >= 0.18  # > 1/8 chance


def test_kmeans_ivf_recall_on_clustered_fixture(spark):
    """On genuinely CLUSTERED data (the case IVF exists for), the
    k-means codebook must recover the cluster structure: recall@5 vs
    brute force ≥ 0.9 at nprobe=2, and the trained codebook must beat
    the untrained (n_iters=0, first-N-vectors) one.  Seeded fixture:
    8 Gaussian clusters in 16 dims, ids shuffled so the k-means init
    (lowest-id vectors) starts from arbitrary cluster members."""
    import random

    from pyspark.sql import Row

    from pigout_spark.pipeline.similarity import brute_force_topk, ivf_topk

    rng = random.Random(42)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    pts = []
    for i in range(320):
        c = centers[i % 8]
        pts.append([x + rng.gauss(0, 0.15) for x in c])
    order = list(range(320))
    rng.shuffle(order)
    rows = [Row(vec_id=i, embedding=pts[order[i]]) for i in range(320)]
    emb = spark.createDataFrame(rows)

    k = 5
    queries = emb.filter("vec_id < 30")
    exact = {
        (r.q_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k).collect()
    }
    trained = {
        (r.q_id, r.neighbor_id)
        for r in ivf_topk(emb, 30, k, n_centroids=8, nprobe=2, n_iters=3).collect()
    }
    untrained = {
        (r.q_id, r.neighbor_id)
        for r in ivf_topk(emb, 30, k, n_centroids=8, nprobe=2, n_iters=0).collect()
    }
    rec_trained = len(trained & exact) / len(exact)
    rec_untrained = len(untrained & exact) / len(exact)
    assert rec_trained >= 0.9
    assert rec_trained > rec_untrained


def test_decontaminate_drops_shingle_overlap(spark):
    from pigout_spark.pipeline.curation import decontaminate

    train = docs(spark, [
        (1, "a b c d e f"),       # contains benchmark 4-gram 'b c d e'
        (2, "z y x w v u"),       # clean
        (3, "short doc"),         # shorter than n -> no shingles, kept
    ])
    bench = docs(spark, [(100, "q q b c d e q q")])
    kept = decontaminate(train, bench, n=4)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3]


def test_stratified_sample_fractions(spark, sf_dir):
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.curation import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    keep, drop = langs[0], langs[1]
    out = stratified_sample(d, "lang", {keep: 1.0, drop: 0.0})
    got = {r.lang for r in out.select("lang").distinct().collect()}
    assert keep in got and drop not in got
    assert out.filter(F.col("lang") == keep).count() == d.filter(
        F.col("lang") == keep
    ).count()
    # seeded: reproducible mixture
    a = stratified_sample(d, "lang", {l: 0.5 for l in langs}, seed=7).count()
    b = stratified_sample(d, "lang", {l: 0.5 for l in langs}, seed=7).count()
    assert a == b


def test_token_budget_select(spark):
    from pigout_spark.pipeline.curation import token_budget_select

    rows = [
        # (id, text, group, score) — 3/2/4-token docs in group g
        (1, "a b c", "g", 3.0),
        (2, "d e", "g", 2.0),
        (3, "f g h i", "g", 1.0),
        (4, "x y z w v", "h", 9.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "src", "score"])
    out = token_budget_select(df, "src", budget=5, order_col="score")
    got = sorted(r.doc_id for r in out.collect())
    # g best-first: doc1 (3 toks, cum 3), doc2 (cum 5 = budget), doc3
    # would cross (cum 9) -> excluded; h: doc4 (5 toks, cum 5)
    assert got == [1, 2, 4]


def test_dedup_clusters_topologies(spark, cc_branch):
    """Connected components over pair graphs: 64-node chains (worst
    case for plain label propagation — pointer jumping and hooking must
    converge in O(log n) rounds, well under the 25-round cap) with
    sorted ids, with shuffled ids, and with the shuffled ids as
    strings; a clique; disjoint small components."""
    import random

    from pigout_spark.pipeline.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(1, 64)]
    clique = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    smalls = [(200, 201), (300, 301)]
    pairs = spark.createDataFrame(
        chain + clique + smalls, ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
    }
    assert all(got[i] == 1 for i in range(1, 65))
    assert all(got[i] == 100 for i in range(100, 106))
    assert got[200] == got[201] == 200 and got[300] == got[301] == 300
    assert len(got) == 64 + 6 + 4

    # sorted ids are a chain's best case; shuffled ids need hooking to
    # finish under the default cap (46 rounds without it, 12 with)
    ids = list(range(1000, 1064))
    random.Random(3).shuffle(ids)
    for walk in (ids, [f"doc-{i}" for i in ids]):
        pairs = spark.createDataFrame(
            list(zip(walk, walk[1:])), ["doc_a", "doc_b"]
        )
        got = {
            r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()
        }
        assert got == dict.fromkeys(walk, min(walk))


def _ancestors(plan: str, pattern: str) -> list[list[str]]:
    """For each node of a final physical plan's tree string matching
    ``pattern``, the names of its ancestors, nearest first."""
    import re

    lines = plan.split("== Initial Plan ==")[0].splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    found = []
    for i, line in enumerate(lines):
        if re.search(pattern, line):
            up, d = [], depth(line)
            for prev in reversed(lines[:i]):
                if depth(prev) < d:
                    up.append(prev.lstrip(" :+-*()0123456789"))
                    d = depth(prev)
            found.append(up)
    return found


def test_dedup_clusters_single_edge_path(spark, monkeypatch):
    """The round loop gives union-find's components and leaves no RDD
    persisted but complete local checkpoints: the edge checkpoint is
    eager, so Spark truncates its lineage, though every later reader of
    it is a shuffle-map stage.  The caller's job description is
    restored.  With broadcast off, no CC round re-exchanges the edge
    list: nothing between the edge scan and the request join is an
    Exchange.  The result's optimizer size estimate does not compound
    across rounds (squared per round, it stalled the driver for minutes
    by round ~20).  A round limit too small for the graph raises with
    the number of rounds run."""
    from pigout_spark.pipeline import dedup, iterate

    edges = [(9, 4), (4, 7), (7, 2), (5, 6), (6, 5), (3, 3), (8, 1), (1, 8)]
    want = {9: 2, 4: 2, 7: 2, 2: 2, 5: 5, 6: 5, 3: 3, 8: 1, 1: 1}
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    sc = spark.sparkContext
    plans = []
    real = iterate.checkpoint

    def capture(df):
        cut = real(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return cut

    monkeypatch.setattr(iterate, "checkpoint", capture)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobDescription("outer")
    persisted = set(sc._jsc.getPersistentRDDs())
    try:
        out = dedup.dedup_clusters(pairs)
        got = {r.doc_id: r.cluster_id for r in out.collect()}
        assert got == want
        stats = out._jdf.queryExecution().optimizedPlan().stats()
        assert stats.sizeInBytes() < 2**63
        assert sc.getLocalProperty("spark.job.description") == "outer"
        scans = [
            up
            for plan in plans
            for up in _ancestors(plan, r"Scan ExistingRDD\[u#\d+L?,v#")
        ]
        assert scans, "no round plan reads the edge checkpoint"
        for up in scans:
            below_join = up[: next(i for i, n in enumerate(up) if "Join" in n)]
            assert not any(n.startswith("Exchange") for n in below_join), up
        # every RDD left persisted is a complete local checkpoint
        assert all(
            rdd.rdd().isCheckpointed()
            for rid, rdd in sc._jsc.getPersistentRDDs().items()
            if rid not in persisted
        )
        with pytest.raises(RuntimeError, match="in 1 rounds"):
            dedup.dedup_clusters(pairs, max_iter=1)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        sc.setJobDescription(None)


def test_minhash_star_edges_same_clusters(spark):
    """r14 optimization pin: CC over the star-contracted bucket
    relation (minhash_lsh_star_edges) is BIT-IDENTICAL to CC over the
    full pair cliques (minhash_lsh_pairs) — a clique and a star on the
    same bucket membership have the same transitive closure.  Fuzzed
    corpus: duplicate families of varying size, chained near-dups,
    singletons."""
    import random

    from pigout_spark.pipeline.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        minhash_lsh_star_edges,
    )

    rng = random.Random(1414)
    rows, did = [], 0
    vocab = [f"w{i}" for i in range(60)]
    for fam in range(12):
        base = rng.sample(vocab, 12)
        for _ in range(rng.randint(1, 6)):
            did += 1
            txt = list(base)
            if rng.random() < 0.5:  # near-dup: perturb one token
                txt[rng.randrange(len(txt))] = rng.choice(vocab)
            rows.append((did, " ".join(txt)))
    for _ in range(10):  # singletons
        did += 1
        rows.append((did, " ".join(rng.sample(vocab, 8))))
    df = docs(spark, rows)
    via_pairs = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(
            minhash_lsh_pairs(df, "doc_id", "text")
        ).collect()
    }
    via_star = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(
            minhash_lsh_star_edges(df, "doc_id", "text")
        ).collect()
    }
    assert via_pairs == via_star
    # star edges must be a (weak) subset of connectivity work: every
    # bucket contributes |bucket|-1 rows, so count(star) <= count(pairs)
    n_star = minhash_lsh_star_edges(df, "doc_id", "text").count()
    n_pairs = minhash_lsh_pairs(df, "doc_id", "text").count()
    assert n_star <= max(n_pairs, 1) or n_pairs == 0


def test_dedup_clusters_merges_across_pair_sources(spark, cc_branch):
    """Components bridge pairs that no single generator would link
    transitively: a-b and b-c pairs put a,c in one cluster."""
    from pigout_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame([(5, 9), (9, 2), (7, 5)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {2: 2, 5: 2, 7: 2, 9: 2}


def test_dedup_clusters_string_ids(spark, cc_branch):
    """Non-numeric doc ids (string/hash/UUID — the common case in
    dedup) must not converge early: an 8-hop chain that stops after
    one round comes back half-merged."""
    from pigout_spark.pipeline.dedup import dedup_clusters

    # an 8-hop chain needs multiple propagation rounds — exactly the
    # topology a false one-round convergence would leave half-merged
    ids = [f"doc-{c}" for c in "abcdefghi"]
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])) + [("zz-1", "zz-2")], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert all(got[i] == "doc-a" for i in ids)
    assert got["zz-1"] == got["zz-2"] == "zz-1"
    assert len(got) == len(ids) + 2


def test_dedup_clusters_id_edge_cases(spark, cc_branch):
    """Ids a float would round (longs above 2**53), non-ASCII strings
    (the smallest by UTF-8 byte order, which Java's UTF-16 order puts
    elsewhere: U+FF21 against U+1F600), self-loops and duplicate edges;
    an empty input returns no rows under the same schema."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pigout_spark.pipeline.dedup import dedup_clusters

    big = 2**53
    cases = [
        (
            [(big + 3, big + 1), (big + 1, 2**63 - 1), (big + 2, big + 5)],
            {big + 3: big + 1, big + 1: big + 1, 2**63 - 1: big + 1,
             big + 2: big + 2, big + 5: big + 2},
        ),
        (
            [("\U0001f600", "\uff21"), ("z", "\u00e9"), ("\u00e9", "\u00e9")],
            {"\U0001f600": "\uff21", "\uff21": "\uff21", "z": "z", "\u00e9": "z"},
        ),
        (
            [(5, 5), (6, 7), (7, 6), (6, 7), (7, 7)],
            {5: 5, 6: 6, 7: 6},
        ),
    ]
    for edges, want in cases:
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert got == want
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = dedup_clusters(empty)
    assert out.collect() == []
    assert out.schema == StructType(
        [StructField("doc_id", LongType()), StructField("cluster_id", LongType())]
    )


def test_dedup_clusters_null_endpoint_raises(spark, cc_branch):
    """A NULL endpoint belongs to no component: the call raises and
    names the column."""
    from pyspark.errors import SparkRuntimeException

    from pigout_spark.pipeline.dedup import dedup_clusters

    for edges, col in (
        ([(1, 2), (2, None)], "doc_b"),
        ([(1, 2), (None, 3)], "doc_a"),
    ):
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        with pytest.raises(SparkRuntimeException, match=f"dedup_clusters: NULL in {col}"):
            dedup_clusters(pairs).collect()


def test_dedup_clusters_broadcast_gate(spark, caplog, job_descriptions):
    """The edge list's rows times Spark's row size decide the branch:
    a graph of 16 directed edges (384 bytes) is solved on the driver at
    a threshold of 384 and takes the round loop at 383.  Each decision
    logs one DEBUG line and runs its collect under its own job
    description; over the threshold the loop runs that one job more
    than with broadcast off, and every branch returns the same rows."""
    import logging

    from pigout_spark.pipeline import iterate
    from pigout_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    caplog.set_level(logging.DEBUG, logger=iterate.__name__)
    sc = spark.sparkContext
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    got, jobs = {}, {}
    try:
        for threshold in (384, 383, -1):
            spark.conf.set(key, str(threshold))
            group = f"cc-gate-{threshold}"
            sc.setJobGroup(group, "outer")
            caplog.clear()
            got[threshold] = sorted(dedup_clusters(pairs).collect())
            jobs[threshold] = job_descriptions(group)
            jobs[threshold, "n"] = len(sc.statusTracker().getJobIdsForGroup(group))
            lines = [r.getMessage() for r in caplog.records if "edges" in r.getMessage()]
            if threshold > 0:
                branch = "broadcast" if threshold == 384 else "no broadcast"
                assert lines == [
                    f"dedup_clusters edges: 384 bytes, threshold {threshold}: {branch}"
                ]
            else:
                assert lines == []
    finally:
        spark.conf.set(key, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got[384] == got[383] == got[-1] == [(i, 0) for i in range(9)]
    assert jobs[384] == ["dedup_clusters round 0", "dedup_clusters: collect edges"]
    assert "dedup_clusters: collect edges" not in jobs[-1]
    assert set(jobs[383]) - set(jobs[-1]) == {"dedup_clusters: collect edges"}
    assert jobs[383, "n"] - jobs[-1, "n"] == 1


def test_retain_per_cluster_policies(spark):
    """Retention keeps the best-scored doc per cluster (ties → lowest
    id) and passes unclustered docs through as singletons."""
    from pigout_spark.pipeline.dedup import retain_per_cluster

    docs_df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        ["doc_id", "score"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], ["doc_id", "cluster_id"]
    )
    kept = retain_per_cluster(docs_df, clusters, score_col="score")
    got = {(r.doc_id, r.cluster_id) for r in kept.collect()}
    # cluster 1: scores 10/30/30 → doc 2 (ties break low); 4 and 9 kept
    assert got == {(2, 1), (4, 4), (9, 9)}
    # no-score policy: lowest id per cluster
    kept2 = retain_per_cluster(docs_df, clusters)
    assert {r.doc_id for r in kept2.collect()} == {1, 4, 9}


def test_scrub_pii_shapes(spark):
    """Each category redacts independently; counts are per-category on
    the text as that category's scrub sees it; clean text untouched."""
    from pigout_spark.pipeline.text import scrub_pii

    rows = [
        (1, "write a@b.io and c.d+tag@e.org today"),
        (2, "hosts 10.0.0.1 and 255.255.255.255"),
        (3, "call +44 20 7946 0958 or 555-867-5309 x"),
        (4, "no pii here at all"),
    ]
    out = {r.doc_id: r for r in scrub_pii(docs(spark, rows)).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 0, 0)
    assert out[1].text_scrubbed == "write <EMAIL> and <EMAIL> today"
    assert (out[2].n_email, out[2].n_ip) == (0, 2)
    assert out[2].text_scrubbed == "hosts <IP> and <IP>"
    assert out[3].n_phone == 2
    assert out[3].text_scrubbed == "call <PHONE> or <PHONE> x"
    assert out[4].text_scrubbed == "no pii here at all"
    assert (out[4].n_email, out[4].n_ip, out[4].n_phone) == (0, 0, 0)


def test_chunk_documents_overlap_and_bounds(spark):
    """Chunks share exactly `overlap` tokens, cover every token, stay
    ≤ max_tokens; zero-token docs vanish; bad overlap rejected."""
    import pytest as _pytest

    from pigout_spark.pipeline.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    df = docs(spark, [(1, text), (2, "a"), (3, "  ")])
    out = sorted(
        chunk_documents(df, max_tokens=4, overlap=1).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    one = [r for r in out if r.doc_id == 1]
    assert [r.chunk_text for r in one] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9",
    ]
    assert all(r.n_chunk_tokens <= 4 for r in out)
    assert [r.doc_id for r in out if r.doc_id != 1] == [2]  # doc 3 dropped
    # consecutive chunks share exactly the overlap token
    for a, b in zip(one, one[1:]):
        assert a.chunk_text.split()[-1] == b.chunk_text.split()[0]
    with _pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_repetition_features_values(spark):
    """Exact fractions: all-same doc → top 2-gram frac 1.0; all-distinct
    → 1/(n-1); duplicated lines measured on the newline split."""
    from pigout_spark.pipeline.text import repetition_features

    rows = [
        (1, "spam spam spam spam"),
        (2, "all tokens differ here now"),
        (3, "a x\nb y\na x\nb y\na x"),
        (4, "solo"),  # < 2 tokens → dropped
    ]
    got = {r.doc_id: r for r in repetition_features(docs(spark, rows)).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].top_2gram_frac == 1.0 and got[1].n_2grams == 3
    assert got[2].top_2gram_frac == 0.25 and got[2].top_2gram_n == 1
    assert abs(got[3].dup_line_frac - (1 - 2 / 5)) < 1e-12
    assert got[1].dup_line_frac == 0.0


def test_quantize_embeddings_bounds_and_roundtrip(spark):
    """Codes stay in [-127, 127], reconstruction error ≤ scale/2 per
    component, zero vectors quantize to zeros with scale 0."""
    from pigout_spark.pipeline.similarity import dequantize, quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [1e-5, -2e-5, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df)
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[1].qvec == [64, -127, 32]
    assert rows[2].scale == 0.0 and rows[2].qvec == [0, 0, 0]
    assert rows[3].qvec[1] == -127  # max-magnitude component saturates
    err = (
        q.join(df, "vec_id")
        .select(
            "vec_id",
            "scale",
            F.array_max(
                F.zip_with(
                    dequantize("qvec", "scale"),
                    F.col("embedding"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("e"),
        )
        .collect()
    )
    for r in err:
        assert r.e <= r.scale / 2 + 1e-15


def test_pack_sequences_next_fit_exact_and_budget(spark):
    """Packing is exact greedy next-fit per doc: matches a sequential
    reference walk on a skewed corpus (one huge doc among tiny ones),
    and no multi-chunk sequence exceeds the budget."""
    from pigout_spark.pipeline.text import pack_sequences

    budget = 100
    skew = [("big", i, n) for i, n in enumerate([64] * 40 + [17])] + [
        ("tiny1", 0, 3),
        ("tiny2", 0, 99),
        ("mid", 0, 50),
        ("mid", 1, 50),
        ("mid", 2, 1),
    ]
    df = spark.createDataFrame(
        skew, ["doc_id", "chunk_idx", "n_chunk_tokens"]
    ).repartition(5)
    out = pack_sequences(df, budget)
    rows = out.collect()
    assert len(rows) == len(skew)  # every chunk assigned exactly once

    def ref_next_fit(ns):
        fill, seq, got = budget + 1, -1, []
        for n in ns:
            if fill + n <= budget:
                fill += n
            else:
                fill, seq = n, seq + 1
            got.append(seq)
        return got

    by_doc: dict = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_chunk_tokens, r.seq_idx))
    for doc, triples in by_doc.items():
        ns = [n for _, n, _ in triples]
        assert [s for _, _, s in triples] == ref_next_fit(ns), doc
    # hard budget guarantee (all chunks <= budget here)
    sums = (
        out.groupBy("doc_id", "seq_idx")
        .agg(F.sum("n_chunk_tokens").alias("tot"))
        .collect()
    )
    assert all(r.tot <= budget for r in sums)
    # the skewed doc really splits: 41 chunks, only one 64-chunk fits
    # per 100-token sequence (64+64 > 100; the final 17 rides with the
    # last 64)
    assert max(s for _, _, s in by_doc["big"]) == 39  # 40 sequences: 0..39


def test_pack_sequences_oversized_chunk_is_singleton(spark):
    """A chunk larger than the budget becomes its own over-budget
    singleton sequence (documented next-fit behavior), without
    disturbing neighbors."""
    from pigout_spark.pipeline.text import pack_sequences

    df = spark.createDataFrame(
        [("d", 0, 10), ("d", 1, 500), ("d", 2, 10)],
        ["doc_id", "chunk_idx", "n_chunk_tokens"],
    )
    got = {
        r.chunk_idx: r.seq_idx for r in pack_sequences(df, 100).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}


def test_quantized_topk_recall_vs_float_path(spark, sf_dir):
    """int8-rescore search must track the exact float path: with
    rescore=4 the top-k sets should be near-identical (quantization
    error ≤ scale/2 per component barely perturbs cosine ranks, and
    the exact rescore fixes any coarse-rank displacement inside the
    rescore window).  Also pins that the final scores ARE the exact
    float cosines, not quantized ones."""
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.similarity import brute_force_topk, quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    exact_rows = brute_force_topk(emb, emb.filter("vec_id < 30"), k).collect()
    exact = {(r.q_id, r.neighbor_id) for r in exact_rows}
    got_rows = quantized_topk(emb, 30, k, rescore=4).collect()
    got = {(r.q_id, r.neighbor_id) for r in got_rows}
    assert len(exact) == 300 and len(got) == 300
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95  # measured 1.0 on the fixture; floor guards drift
    # scores on agreeing pairs are the exact float cosines
    ecos = {(r.q_id, r.neighbor_id): r.cos for r in exact_rows}
    for r in got_rows:
        key = (r.q_id, r.neighbor_id)
        if key in ecos:
            assert r.cos == ecos[key]


def test_lang_id_margin_flags_ambiguous_rows(spark):
    """The r5 margin column makes low-confidence predictions
    identifiable: clear-signal sentences get a positive margin, texts
    with zero language evidence (empty / stopword-free symbol soup)
    get margin 0, and script-detected rows report their coverage ratio
    (>= 1 whenever the 5% trigger fired)."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog in the field"),
        (2, "Le chat est sur la table et les enfants jouent dans le jardin"),
        (3, ""),  # no evidence at all
        (4, "zzz qqq 12345 @@@"),  # no stopwords, no n-grams
        (5, "这是一个中文句子用来测试语言识别功能"),  # script row
    ]
    out = {
        r.doc_id: (r.predicted, r.lang_margin)
        for r in lang_id(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1][0] == "en" and out[1][1] >= 1.0
    assert out[2][0] == "fr" and out[2][1] >= 1.0
    assert out[3][1] == 0.0 and out[4][1] == 0.0  # ambiguous → margin 0
    assert out[5][0] == "zh" and out[5][1] >= 1.0  # full coverage ≈ 20
    # thresholding recovers exactly the ambiguous rows
    flagged = {d for d, (_, m) in out.items() if m < 1.0}
    assert flagged == {3, 4}
    # margin=None keeps the legacy single-column shape
    cols = lang_id(
        spark.createDataFrame(rows, ["doc_id", "text"]), margin=None
    ).columns
    assert "lang_margin" not in cols


def test_ivf_quantized_tracks_ivf_float_path(spark, sf_dir):
    """Composing int8 coarse scoring with IVF must not lose what IVF
    finds: with rescore=4 the composed top-k matches the float IVF
    path nearly exactly (both share the cell restriction; quantization
    noise is absorbed by the rescore window)."""
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.similarity import ivf_quantized_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    k = 5
    base = {
        (r.q_id, r.neighbor_id)
        for r in ivf_topk(emb, 20, k, n_centroids=8).collect()
    }
    got = {
        (r.q_id, r.neighbor_id)
        for r in ivf_quantized_topk(
            emb, 20, k, n_centroids=8, rescore=4
        ).collect()
    }
    assert len(base) == len(got)
    assert len(got & base) / len(base) >= 0.95  # measured 1.0 on fixture


def test_shuffle_deterministic_properties(spark, sf_dir):
    """Deterministic training shuffle: the permutation is a bijection
    onto 1..N, identical across partitionings, different per seed, and
    built on the two-pass row_rank (no single-partition window over
    data rows)."""
    from pigout_spark.catalog import load_table
    from pigout_spark.pipeline.curation import shuffle_deterministic

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    a = {r.doc_id: r.shuffle_rank for r in shuffle_deterministic(d, ["doc_id"], "42").collect()}
    b = {
        r.doc_id: r.shuffle_rank
        for r in shuffle_deterministic(d.repartition(7), ["doc_id"], "42").collect()
    }
    assert a == b  # partitioning-independent
    assert sorted(a.values()) == list(range(1, n + 1))  # bijection
    c = {r.doc_id: r.shuffle_rank for r in shuffle_deterministic(d, ["doc_id"], "43").collect()}
    assert c != a  # independent permutation per seed
    plan = (
        shuffle_deterministic(d, ["doc_id"], "42")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            assert "HashAggregate" in lines[i + 1]  # counts branch only


def test_unigram_logprob_semantics(spark):
    """Unigram LM score: matches a hand-computed reference on a tiny
    corpus, and rare-token documents score strictly lower than
    common-token ones (the property that makes it a quality signal)."""
    import math

    from pigout_spark.pipeline.text import unigram_logprob

    rows = [
        (1, "a a a a"),       # common tokens only
        (2, "a a rare1 a"),   # one rare token
        (3, "rare2 rare3"),   # all rare
        (4, ""),              # zero tokens → dropped
    ]
    out = {
        r.doc_id: (r.mean_logprob, r.n_tokens)
        for r in unigram_logprob(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    # corpus: a×7, rare1, rare2, rare3 → N=10
    lp = {"a": math.log(7 / 10), "rare1": math.log(1 / 10),
          "rare2": math.log(1 / 10), "rare3": math.log(1 / 10)}
    assert 4 not in out and out[1][1] == 4 and out[2][1] == 4 and out[3][1] == 2
    assert abs(out[1][0] - lp["a"]) < 1e-12
    assert abs(out[2][0] - (3 * lp["a"] + lp["rare1"]) / 4) < 1e-12
    assert abs(out[3][0] - (lp["rare2"] + lp["rare3"]) / 2) < 1e-12
    assert out[3][0] < out[2][0] < out[1][0]


def test_duplicate_passage_spans_positions(spark):
    """Span detection finds the shared 3-gram at its exact positions in
    each doc, counts distinct docs (within-doc repeats don't inflate
    ndocs), and ignores shingles unique to one doc."""
    from pigout_spark.pipeline.dedup import duplicate_passage_spans

    rows = [
        (1, "the quick brown fox jumps"),       # "the quick brown" @0
        (2, "intro the quick brown fox"),       # @1, "quick brown fox" @2
        (3, "the quick brown the quick brown"), # @0 and @3 (same doc)
        (4, "totally different words here"),
        (5, "ab"),                              # < n tokens → no shingles
    ]
    out = duplicate_passage_spans(
        spark.createDataFrame(rows, ["doc_id", "text"]), n=3, min_docs=2
    ).collect()
    spans = {(r.doc_id, r.start): r.ndocs for r in out}
    # "the quick brown" in docs 1,2,3 → ndocs=3 at every position
    assert spans[(1, 0)] == 3 and spans[(2, 1)] == 3
    assert spans[(3, 0)] == 3 and spans[(3, 3)] == 3
    # "quick brown fox" in docs 1,2 → ndocs=2
    assert spans[(1, 1)] == 2 and spans[(2, 2)] == 2
    # nothing from the unique doc or the short doc
    assert not any(d in (4, 5) for d, _ in spans)


def test_passage_dup_stats_fractions(spark):
    """Per-doc stats: correct totals, duplicated counts, exact
    fractions; short docs appear with zeros rather than vanishing."""
    from pigout_spark.pipeline.dedup import passage_dup_stats

    rows = [
        (1, "a b c d"),   # shingles: abc, bcd
        (2, "a b c e"),   # shingles: abc, bce
        (3, "x y"),       # too short
    ]
    out = {
        r.doc_id: r
        for r in passage_dup_stats(
            spark.createDataFrame(rows, ["doc_id", "text"]), n=3, min_docs=2
        ).collect()
    }
    assert (out[1].n_shingles, out[1].n_dup_shingles) == (2, 1)
    assert abs(out[1].dup_fraction - 0.5) < 1e-12
    assert (out[2].n_shingles, out[2].n_dup_shingles) == (2, 1)
    assert (out[3].n_shingles, out[3].n_dup_shingles) == (3 - 3, 0)
    assert out[3].dup_fraction == 0.0


def test_duplicate_passages_no_cartesian(spark):
    """The passage join is key-equi on the shingle hash — the physical
    plan must not contain a cartesian/nested-loop product."""
    from pigout_spark.pipeline.dedup import duplicate_passage_spans

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared shared shared") for i in range(20)],
        ["doc_id", "text"],
    )
    plan = duplicate_passage_spans(df, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_recipe_and_determinism(spark):
    """Mixture sampling: underweight domains kept whole (rate caps at
    1), recipe-absent domains dropped, fractional domains near their
    target count, and the selection is bit-identical across runs."""
    from pigout_spark.pipeline.curation import mixture_sample

    rows = [(f"a{i}", "a") for i in range(40)] + \
           [(f"b{i}", "b") for i in range(400)] + \
           [(f"c{i}", "c") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_sample(
        df, "source", {"a": 0.5, "b": 0.5}, target_rows=200,
        id_cols=["doc_id"], seed="1",
    )
    got = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in got}
    # a: rate = min(1, 100/40) = 1 → all 40 kept, exactly
    assert by.get("a") == 40
    # b: rate = 100/400 = 0.25 → ~100 of 400 (binomial, generous bounds)
    assert 60 <= by.get("b", 0) <= 140
    # c: not in recipe → dropped entirely
    assert "c" not in by
    # deterministic: identical row set on a second run
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {
        r.doc_id
        for r in mixture_sample(
            df, "source", {"a": 0.5, "b": 0.5}, 200, ["doc_id"], seed="1"
        ).collect()
    }
    assert ids1 == ids2
    # a different seed draws a different (same-rate) subset of b
    ids3 = {
        r.doc_id
        for r in mixture_sample(
            df, "source", {"a": 0.5, "b": 0.5}, 200, ["doc_id"], seed="2"
        ).collect()
    }
    assert ids1 != ids3


def test_bpe_pair_counts_weighted(spark):
    """Pair counts are word-frequency weighted character bigrams:
    hand-computed on a tiny corpus."""
    from pigout_spark.pipeline.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "ab x")], ["doc_id", "text"]
    )
    got = {r.pair: r.cnt for r in bpe_pair_counts(df).collect()}
    # 'ab'×3 + 'abc'×1 → pair "ab" = 4; "bc" from abc = 1; "x" no pairs
    assert got == {"ab": 4, "bc": 1}


def test_bpe_train_merge_order(spark):
    """bpe_train reproduces the classic low/lower/lowest example: the
    first merges build 'low' greedily, ties break lexicographically,
    and merges apply left-to-right non-overlapping."""
    from pigout_spark.pipeline.text import bpe_train

    df = spark.createDataFrame(
        [(1, "low low low low lower lowest newest newest")],
        ["doc_id", "text"],
    )
    merges = bpe_train(df, 3)
    # l-o and o-w both appear 6x; 'lo' < 'ow' lexicographically → (l,o)
    # first, then (lo,w) at 6.  Next: e-s and s-t at 3 ('es' wins tie
    # vs 'st'; w-e is 2, n-e/e-w 2).
    assert merges == [("l", "o"), ("lo", "w"), ("e", "s")]


def test_bpe_train_overlapping_merge_left_to_right(spark):
    """Merging (a,a) over 'aaaa' (symbols 'a a a a') must produce
    'aa aa' (left-to-right non-overlapping), so the next round can
    merge (aa,aa) — the standard BPE application order."""
    from pigout_spark.pipeline.text import bpe_train

    df = spark.createDataFrame([(1, "aaaa aaaa")], ["doc_id", "text"])
    merges = bpe_train(df, 2)
    assert merges == [("a", "a"), ("aa", "aa")]


def test_importance_weights_favor_target_like_docs(spark):
    """DSIR scoring: docs made of target-domain tokens get strictly
    higher log-weights than out-of-domain docs; zero-token docs drop;
    weights are finite even for tokens unseen in the target (Laplace)."""
    from pigout_spark.pipeline.curation import importance_weights

    corpus = spark.createDataFrame(
        [
            (1, "physics quantum theory physics"),
            (2, "physics quantum"),
            (3, "celebrity gossip scandal gossip"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(100, "physics quantum field theory quantum physics")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in importance_weights(corpus, target).collect()}
    assert 4 not in out
    assert out[1].n_tokens == 4
    # target-like docs beat the gossip doc per token and in total
    assert out[1].log_weight > 0 > out[3].log_weight
    assert out[2].log_weight > out[3].log_weight
    import math
    assert all(math.isfinite(r.log_weight) for r in out.values())


def test_importance_resample_weighted_and_deterministic(spark):
    """Gumbel top-k: the draw is reproducible for a fixed seed, changes
    with the seed, and target-like docs are strongly over-represented
    vs a uniform draw."""
    from pigout_spark.pipeline.curation import importance_resample

    rows = [(i, "physics quantum theory") for i in range(50)] + [
        (i, "random noise words") for i in range(50, 100)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    target = spark.createDataFrame(
        [(0, "physics quantum field theory")], ["doc_id", "text"]
    )
    d1 = {r.doc_id for r in importance_resample(corpus, target, 20, seed="a").collect()}
    d2 = {r.doc_id for r in importance_resample(corpus, target, 20, seed="a").collect()}
    d3 = {r.doc_id for r in importance_resample(corpus, target, 20, seed="b").collect()}
    assert d1 == d2 and len(d1) == 20
    assert d1 != d3
    # physics docs (ids < 50) dominate the draw
    assert sum(1 for i in d1 if i < 50) >= 16


def test_bpe_encode_exact_tokens(spark):
    """Encode with trained merges reproduces hand-derived BPE: 'lowest'
    → low+est, 'newest' → n+ew+est, order preserved, counts right —
    and the Python merge loop only ever sees the distinct vocabulary."""
    from pigout_spark.pipeline.text import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [
            (1, "low low low low lower lowest newest newest"),
            (2, "low newest"),
        ],
        ["doc_id", "text"],
    )
    merges = bpe_train(df, 5)
    assert merges == [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"), ("e", "w")]
    out = {r.doc_id: r for r in bpe_encode(df, merges).collect()}
    assert out[2].bpe_tokens == ["low", "n", "ew", "est"]
    assert out[1].bpe_tokens == (
        ["low"] * 5 + ["e", "r"] + ["low", "est"] + ["n", "ew", "est"] * 2
    )
    assert out[1].n_bpe_tokens == 15


def test_bpe_apply_merges_rank_order_not_list_order(spark):
    """The encode loop must pick the LOWEST-RANK pair present, not the
    leftmost: with merges [(a,b) rank0, (b,c) rank1] the word 'abc'
    becomes [ab, c] — (a,b) wins even though (b,c) is also present."""
    from pigout_spark.pipeline.text import bpe_apply_merges

    ranks = {("a", "b"): 0, ("b", "c"): 1}
    assert bpe_apply_merges("abc", ranks) == ["ab", "c"]
    # and the other priority: (b,c) rank0 consumes first
    assert bpe_apply_merges("abc", {("b", "c"): 0, ("a", "b"): 1}) == ["a", "bc"]


def test_corpus_stats_values(spark):
    """Corpus dashboard numbers on a hand-countable corpus, including
    empty docs and exact duplicates."""
    from pigout_spark.pipeline.text import corpus_stats

    df = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c"),   # exact dup of 1
            (3, "d e"),
            (4, "  "),      # empty after trim
        ],
        ["doc_id", "text"],
    )
    r = corpus_stats(df).collect()[0]
    assert r.n_docs == 4 and r.n_empty_docs == 1
    assert r.n_tokens == 8 and r.n_distinct_tokens == 5
    assert r.n_exact_dup_docs == 1
    assert r.n_chars == 5 + 5 + 3 + 2


def test_split_corpus_properties(spark):
    """Split assignment: every row labeled, fractions near target,
    stable across runs and across corpus growth (a doc keeps its split
    when new docs arrive — the eval-hygiene property), and disjoint."""
    from pigout_spark.pipeline.curation import split_corpus

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = split_corpus(df, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"], seed="s")
    by = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(by.values()) == 1000
    assert 720 <= by["train"] <= 880 and 60 <= by["val"] <= 140
    # stability under corpus growth: the first 500 docs keep their label
    sub = split_corpus(
        spark.range(500).withColumnRenamed("id", "doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"], seed="s",
    )
    full = {r.doc_id: r.split for r in out.collect()}
    assert all(full[r.doc_id] == r.split for r in sub.collect())


def test_duplicate_passages_hub_shingle_completes(spark):
    """Adversarial skew: one boilerplate 3-gram present in EVERY doc —
    the join key is maximally hot; output must still be exact (every
    position, ndocs = corpus size)."""
    from pigout_spark.pipeline.dedup import duplicate_passage_spans

    n_docs = 200
    df = spark.createDataFrame(
        [(i, f"u{i}a u{i}b hot hot hot u{i}c") for i in range(n_docs)],
        ["doc_id", "text"],
    )
    out = duplicate_passage_spans(df, n=3, min_docs=2).collect()
    hot = [r for r in out if r.ndocs == n_docs]
    # "hot hot hot" appears once per doc (position 2)
    assert len(hot) == n_docs and all(r.start == 2 for r in hot)


def test_mixture_sample_degenerate_domains(spark):
    """Single-row domains and an all-rows recipe: rates cap correctly,
    nothing divides by zero, empty recipe drops everything."""
    from pigout_spark.pipeline.curation import mixture_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], ["doc_id", "source"]
    )
    all_kept = mixture_sample(df, "source", {"a": 1.0, "b": 1.0}, 100, ["doc_id"])
    assert all_kept.count() == 3  # every rate caps at 1
    none = mixture_sample(df, "source", {"zzz": 1.0}, 100, ["doc_id"])
    assert none.count() == 0


def test_importance_weights_broadcast_follows_stored_bytes(spark, caplog):
    """The DSIR weight table is broadcast when its stored bytes fit
    autoBroadcastJoinThreshold and joined by SHUFFLE_HASH otherwise,
    with the same weights either way."""
    import logging

    from pigout_spark.pipeline import iterate
    from pigout_spark.pipeline.curation import importance_weights

    corpus = spark.createDataFrame(
        [(1, "a b c a"), (2, "b d"), (3, "e f e")], ["doc_id", "text"]
    )
    target = spark.createDataFrame([(9, "a b b d")], ["doc_id", "text"])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    caplog.set_level(logging.DEBUG, logger=iterate.__name__)
    got = {}
    try:
        for threshold in (old, "1"):
            spark.conf.set(key, threshold)
            out = importance_weights(corpus, target)
            got[threshold] = (
                out._jdf.queryExecution().executedPlan().toString(),
                sorted(out.collect()),
            )
    finally:
        spark.conf.set(key, old)
    lines = [r.getMessage() for r in caplog.records if r.name == iterate.__name__]
    assert [line.rsplit(": ", 1)[1] for line in lines] == ["broadcast", "no broadcast"]
    assert all(line.startswith("importance_weights: ") for line in lines)
    (big_plan, big), (small_plan, small) = got[old], got["1"]
    assert "ShuffledHashJoin" in small_plan and "ShuffledHashJoin" not in big_plan
    assert small == big and len(big) == 3


def test_importance_weights_target_equals_corpus(spark):
    """Degenerate DSIR: target == corpus ⇒ the two models coincide and
    every log-weight is ~0 (smoothing included)."""
    from pigout_spark.pipeline.curation import importance_weights

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "c c d")], ["doc_id", "text"]
    )
    out = importance_weights(df, df).collect()
    assert all(abs(r.log_weight) < 1e-9 for r in out)


def test_quality_filter_verdicts_and_audit_trail(spark):
    """Composite filter: each rule fires on a doc built to violate
    exactly it; clean docs pass with an empty failed array; sub-2-token
    docs fail min_tokens instead of vanishing."""
    from pigout_spark.pipeline.text import quality_filter

    rows = [
        (1, "alpha bravo charlie delta echo"),          # clean
        (2, "hi"),                                      # min_tokens (1 tok)
        (3, "a b c d e f"),                             # min_avg_token_len
        (4, "spam spam spam spam spam spam spam spam"), # repetition+distinct
        (5, "one\ntwo\none\ntwo\none\ntwo\nxx yy zz aa bb"),  # dup lines
    ]
    out = {r.doc_id: r for r in quality_filter(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).collect()}
    assert out[1].keep and out[1].failed == []
    assert not out[2].keep and "min_tokens" in out[2].failed
    assert not out[3].keep and "min_avg_token_len" in out[3].failed
    assert not out[4].keep
    assert {"max_top_2gram_frac", "min_distinct_frac"} <= set(out[4].failed)
    assert not out[5].keep and "max_dup_line_frac" in out[5].failed
    # every doc got a row — nothing silently dropped
    assert len(out) == 5


def test_quality_filter_custom_rules(spark):
    """Rule overrides merge over defaults: loosening one threshold
    flips only that verdict."""
    from pigout_spark.pipeline.text import quality_filter

    df = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
    strict = quality_filter(df).collect()[0]
    loose = quality_filter(df, {"min_tokens": 1, "min_avg_token_len": 0.0}).collect()[0]
    assert not strict.keep and loose.keep


def test_tfidf_top_terms_ranking(spark):
    """TF-IDF: a term unique to one doc outranks corpus-wide terms;
    ubiquitous terms get idf = ln(1) = 0; ranking is total-ordered."""
    import math

    from pigout_spark.pipeline.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common other"),
            (3, "common other"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=2)
    rows = {(r.doc_id, r.rk): r for r in out.collect()}
    top1 = rows[(1, 1)]
    assert top1.term == "rare1"
    assert abs(top1.tfidf - 1 * math.log(3 / 1)) < 1e-12
    # 'common' is in every doc → tfidf exactly 0, ranked below rare1
    assert rows[(1, 2)].term == "common" and rows[(1, 2)].tfidf == 0.0


def test_pmi_pairs_values_and_floor(spark):
    """PMI: hand-computed value on a controlled corpus; pairs under the
    min-count floor are dropped."""
    import math

    from pigout_spark.pipeline.text import pmi_pairs

    # "a b" x 6 docs, plus "a c" once (under floor)
    rows = [(i, "a b") for i in range(6)] + [(100, "a c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.x, r.y): r for r in pmi_pairs(df, min_count=5).collect()}
    assert list(out) == [("a", "b")]
    r = out[("a", "b")]
    # T = 7 pairs total; c(a)=7, c(b)=6, c(a,b)=6
    assert r.pair_n == 6
    assert abs(r.pmi - math.log(6 * 7 / (7 * 6))) < 1e-12  # = ln(1) = 0


def test_curate_cli_end_to_end(tmp_path):
    """The curation CLI contract: stage chain runs, survivors parquet
    lands with the split column, report prints per-stage counts."""
    import subprocess
    import sys as _sys

    import duckdb as _duckdb

    out_dir = tmp_path / "curated"
    r = subprocess.run(
        [
            _sys.executable,
            "tools/curate.py",
            "/root/testdata/sf0.001/documents.parquet",
            str(out_dir),
            "--stages",
            "pii,quality,split",
            "--report",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "input" in r.stdout and "quality" in r.stdout
    got = _duckdb.connect().execute(
        f"SELECT COUNT(*), COUNT(DISTINCT split) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    assert got[0] > 0 and got[1] >= 2


def test_curate_cli_surprisal_keeps_zero_token_docs(tmp_path, spark):
    """The surprisal stage gates on model surprisal ONLY: docs with no
    tokens (empty/whitespace text) get no score and must pass through
    rather than being silently inner-joined away."""
    import subprocess
    import sys as _sys

    import duckdb as _duckdb

    src = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the the the the the the"),
            (3, ""),  # zero tokens: no surprisal score
            (4, "   "),  # whitespace-only: no surprisal score
        ],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(src))
    out_dir = tmp_path / "curated"
    r = subprocess.run(
        [
            _sys.executable, "tools/curate.py", str(src), str(out_dir),
            "--stages", "surprisal", "--max-surprisal", "1e9",
        ],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ids = sorted(
        x[0] for x in _duckdb.connect().execute(
            f"SELECT doc_id FROM read_parquet('{out_dir}/*.parquet')"
        ).fetchall()
    )
    assert ids == [1, 2, 3, 4]


def test_semantic_dedup_pairs_and_retention(spark):
    """SemDeDup composition: near-identical vectors pair (cosine ≥ t)
    within their k-means cell, transitive groups collapse to the
    lowest-id representative, and distant vectors survive."""
    from pigout_spark.pipeline.dedup import semantic_dedup, semantic_dedup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # ~dup of 1
        (3, [0.998, 0.02, 0.0], 0),   # ~dup of 1 and 2 (chain)
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    pairs = {
        (r.a, r.b)
        for r in semantic_dedup_pairs(
            emb, n_centroids=3, threshold=0.99
        ).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(emb, n_centroids=3, threshold=0.99).collect()
    )
    assert kept == [1, 4, 5]  # the 1-2-3 component keeps its min id


def test_sample_exact_n_counts_and_determinism(spark):
    """Exact-N sampling: exactly n per group (whole group when smaller),
    deterministic for a seed, different draw for another seed; the
    global path returns exactly n via TakeOrdered (no grouped window)."""
    from pigout_spark.pipeline.curation import sample_exact_n

    rows = [(i, "big") for i in range(50)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sample_exact_n(df, 5, ["doc_id"], seed="x", by="source")
    by = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert by == {"big": 5, "small": 3}
    ids1 = {r.doc_id for r in out.collect()}
    ids2 = {r.doc_id for r in sample_exact_n(df, 5, ["doc_id"], seed="x", by="source").collect()}
    ids3 = {r.doc_id for r in sample_exact_n(df, 5, ["doc_id"], seed="y", by="source").collect()}
    assert ids1 == ids2 and ids1 != ids3
    g = sample_exact_n(df, 10, ["doc_id"], seed="x")
    assert g.count() == 10
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort / window


def test_cms_sketch_estimates_upper_bound_true_counts(spark):
    """CMS contract: estimates are ≥ true counts everywhere, exact for
    most terms at this load factor, and sketches from corpus shards
    MERGE by adding cells (the distributed-aggregation property)."""
    from pigout_spark.pipeline.sketches import cms_build, cms_estimate
    import pyspark.sql.functions as F_

    rows = [(1, "a a a b c"), (2, "a b d"), (3, "e e")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    true = {"a": 4, "b": 2, "c": 1, "d": 1, "e": 2}
    sk = cms_build(df, depth=4, width=256)
    q = spark.createDataFrame([(t,) for t in true], ["term"])
    est = {r.term: r.est for r in cms_estimate(sk, q, depth=4, width=256).collect()}
    assert all(est[t] >= n for t, n in true.items())
    assert sum(est[t] - true[t] for t in true) == 0  # no collisions at 5 terms/256
    # shard merge: sketch(doc1) + sketch(doc2,3) cell-added == full sketch
    sk1 = cms_build(df.filter("doc_id = 1"), depth=4, width=256)
    sk23 = cms_build(df.filter("doc_id > 1"), depth=4, width=256)
    merged = (
        sk1.unionByName(sk23)
        .groupBy("row", "bucket")
        .agg(F_.sum("cnt").alias("cnt"))
    )
    full = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    got = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert got == full


def test_kmv_estimate_within_error_bound(spark, sf_dir):
    """KMV with k=256 estimates distinct event ids within ~4·(1/√k)
    of truth (events ids are unique, so truth = row count)."""
    from pigout_spark.pipeline.sketches import kmv_build, kmv_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    truth = ev.filter("event_id IS NOT NULL").select("event_id").distinct().count()
    est = kmv_estimate(kmv_build(ev, "event_id", k=256), k=256).collect()[0]
    if truth < 256:
        assert est.est == float(truth)  # exact below k
    else:
        assert abs(est.est - truth) / truth < 4 / (256 - 2) ** 0.5


def test_kmv_exact_below_k(spark):
    from pigout_spark.pipeline.sketches import kmv_build, kmv_estimate

    df = spark.createDataFrame([(i % 37,) for i in range(500)], "v bigint")
    out = kmv_estimate(kmv_build(df, "v", k=256), k=256).collect()[0]
    assert out.n_hashes == 37 and out.est == 37.0


def test_kmv_merge_equals_whole_set_sketch(spark):
    """Sketch-of-shards merged == sketch-of-union, row for row (the
    mergeability contract, exactly — not approximately)."""
    from pigout_spark.pipeline.sketches import kmv_build, kmv_merge

    df = spark.createDataFrame([(i,) for i in range(5000)], "v bigint")
    whole = kmv_build(df, "v", k=128)
    parts = kmv_merge(
        [
            kmv_build(df.filter("v % 3 = 0"), "v", k=128),
            kmv_build(df.filter("v % 3 = 1"), "v", k=128),
            kmv_build(df.filter("v % 3 = 2"), "v", k=128),
        ],
        k=128,
    )
    a = sorted(r.h for r in whole.collect())
    b = sorted(r.h for r in parts.collect())
    assert a == b and len(a) == 128


def test_kmv_sketch_is_self_describing(spark):
    """ADVICE r5: k rides with the sketch — estimating under the wrong
    k (the old silent-wrong-answer path) now fails loudly, and with no
    k argument at all the carried value drives the estimator."""
    import pytest
    from pigout_spark.pipeline.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    df = spark.createDataFrame([(i,) for i in range(5000)], "v bigint")
    sk = kmv_build(df, "v", k=256)
    assert set(sk.columns) == {"h", "k"}
    # carried k drives the estimate: a full k=256 sketch of 5000
    # distincts must NOT take the exact branch (the old bug reported
    # 256 when the caller defaulted to k=1024)
    est = kmv_estimate(sk).collect()[0]
    assert est.n_hashes == 256 and abs(est.est - 5000) / 5000 < 0.2
    # explicit mismatched k fails loudly at execution
    with pytest.raises(Exception, match="k mismatch"):
        kmv_estimate(sk, k=1024).collect()
    with pytest.raises(Exception, match="k mismatch"):
        kmv_merge([sk, kmv_build(df, "v", k=128)], k=256).collect()
    # empty sketch: exact zero, no null leak
    empty = kmv_build(df.filter("v < 0"), "v", k=64)
    row = kmv_estimate(empty).collect()[0]
    assert row.n_hashes == 0 and row.est == 0.0


def test_kmv_null_excluded(spark):
    from pigout_spark.pipeline.sketches import kmv_build

    df = spark.createDataFrame([(1,), (None,), (2,)], "v bigint")
    assert kmv_build(df, "v", k=16).count() == 2


def test_hll_estimate_and_shard_merge(spark, sf_dir):
    """Native HLL: estimate within lg_k=12 error (~2%), and unioning
    per-source shard sketches equals re-estimating — without
    rescanning the data."""
    from pigout_spark.pipeline.sketches import hll_build, hll_merge_estimate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = docs.select("doc_id").distinct().count()
    one = hll_merge_estimate(hll_build(docs, "doc_id"))
    assert abs(one.collect()[0].est - truth) / truth < 0.05
    shards = hll_build(docs, "doc_id", keys=["source"])
    merged = hll_merge_estimate(shards.select("hll"))
    assert abs(merged.collect()[0].est - truth) / truth < 0.05


def test_kmv_sketch_no_global_sort(spark, sf_dir):
    """The top-k is TakeOrderedAndProject (map-side partial top-k),
    never a rangepartitioned global sort."""
    from pigout_spark.pipeline.sketches import kmv_build

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        kmv_build(ev, "event_id", k=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_curate_cli_sharded_output(tmp_path):
    """--shards N writes the verified shard layout + manifest instead
    of a plain parquet dir."""
    import glob
    import json
    import subprocess
    import sys as _sys

    out_dir = tmp_path / "sharded"
    r = subprocess.run(
        [
            _sys.executable,
            "tools/curate.py",
            "/root/testdata/sf0.001/documents.parquet",
            str(out_dir),
            "--stages",
            "quality",
            "--shards",
            "4",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    manifest = json.load(open(out_dir / "_manifest.json"))
    assert manifest["n_shards"] == 4 and manifest["total_rows"] > 0
    assert len(glob.glob(f"{out_dir}/shard=*")) <= 4


def test_profile_columns_exact_and_approx(spark):
    from pigout_spark.pipeline.text import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")], "k bigint, s string"
    )
    exact = {r.column: r for r in profile_columns(df).collect()}
    assert exact["k"].n_rows == 4 and exact["k"].n_nulls == 1
    assert exact["k"].n_distinct == 3
    assert exact["s"].n_nulls == 1 and exact["s"].n_distinct == 2
    approx = {r.column: r for r in profile_columns(df, approx=True).collect()}
    # tiny cardinalities: HLL is exact here
    assert approx["k"].n_distinct == 3 and approx["s"].n_distinct == 2


def test_profile_columns_approx_avoids_expand(spark, sf_dir):
    """approx=True must not plan the Expand operator (the exact
    variant's input × #cols multiplier)."""
    from pigout_spark.pipeline.text import profile_columns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact_plan = (
        profile_columns(docs, ["doc_id", "lang"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        profile_columns(docs, ["doc_id", "lang"], approx=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan


def test_normalize_text_unicode_forms(spark):
    from pigout_spark.pipeline.text import normalize_text

    rows = [
        (1, "éclair"),          # decomposed -> NFC composes
        (2, "a​b﻿c"),       # zero-width chars stripped
        (3, "  x\t\ty \n z  "),       # whitespace runs collapse + trim
        (4, None),
        (5, "éclair"),           # already composed
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text_norm for r in normalize_text(df).collect()}
    assert out[1] == "éclair" and out[1] == out[5]
    assert out[2] == "abc"
    assert out[3] == "x y z"
    assert out[4] is None


def test_pagerank_matches_reference_power_iteration(spark):
    from pigout_spark.pipeline.graph import pagerank

    # a -> b, a -> c, b -> c, c -> a
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}

    ranks = {v: 1 / 3 for v in "abc"}
    out = {"a": ["b", "c"], "b": ["c"], "c": ["a"]}
    for _ in range(10):
        contrib = {v: 0.0 for v in "abc"}
        for u, vs in out.items():
            for v in vs:
                contrib[v] += ranks[u] / len(vs)
        ranks = {v: 0.15 / 3 + 0.85 * contrib[v] for v in "abc"}
    for v in "abc":
        # fixed-point floor divisions drift <= ~1e-11 over 10 rounds
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])
    # c has two in-edges, a and b fewer: c ranks highest
    assert got["c"] > got["a"] > got["b"]


def test_pagerank_partitioning_invariant(spark):
    """The decimal contribution sums make the result bit-identical
    whatever the physical partitioning."""
    from pigout_spark.pipeline.graph import pagerank

    import random

    rng = random.Random(5)
    rows = [(f"n{rng.randint(0, 40)}", f"n{rng.randint(0, 40)}") for _ in range(300)]
    e1 = spark.createDataFrame(rows, "src string, dst string")
    e2 = e1.repartition(7, "dst")
    a = sorted((r.node, r.rank) for r in pagerank(e1, iterations=4).collect())
    b = sorted((r.node, r.rank) for r in pagerank(e2, iterations=4).collect())
    assert a == b  # exact equality, not approx


def test_pagerank_dangling_and_empty(spark):
    from pigout_spark.pipeline.graph import pagerank

    # b is dangling (no out-edges)
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    assert set(got) == {"a", "b"}
    assert abs(got["a"] - 0.15 / 2) < 1e-15  # no in-links
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_pagerank_null_endpoint_fails_loudly(spark):
    """ADVICE r10: the degree fold is an inner join on the source key,
    so a NULL src/dst must raise — not silently drop the edge (and its
    destination from the node set)."""
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from pigout_spark.pipeline.graph import pagerank

    bad_src = spark.createDataFrame(
        [("a", "b"), (None, "c")], "src string, dst string"
    )
    with _pytest.raises(SparkRuntimeException, match="non-null"):
        pagerank(bad_src, iterations=2).collect()
    bad_dst = spark.createDataFrame(
        [("a", "b"), ("b", None)], "src string, dst string"
    )
    with _pytest.raises(SparkRuntimeException, match="non-null"):
        pagerank(bad_dst, iterations=2).collect()


def test_vocab_kl_properties(spark):
    from pigout_spark.pipeline.curation import vocab_kl

    a = spark.createDataFrame(
        [(1, "x x x y"), (2, "x z")], "doc_id bigint, text string"
    )
    b_same = spark.createDataFrame(
        [(3, "x x x y"), (4, "x z")], "doc_id bigint, text string"
    )
    b_far = spark.createDataFrame(
        [(5, "q q q r r s")], "doc_id bigint, text string"
    )
    same = vocab_kl(a, b_same).collect()[0]
    far = vocab_kl(a, b_far).collect()[0]
    # identical distributions -> KL ~ 0 (up to round-6 of the terms)
    assert abs(same.kl_nats) < 1e-5
    assert far.kl_nats > same.kl_nats  # divergence grows with shift
    assert same.n_tokens_a == 6 and same.n_tokens_b == 6
    assert far.n_terms == 6  # joint vocab {x,y,z,q,r,s}


def test_pq_recall_on_clustered_fixture(spark):
    """On clustered data, PQ-ADC with exact rescore recovers the true
    neighbors: recall@5 vs brute force >= 0.9.  rescore=8 because PQ
    collapses same-cluster members to near-identical codes - the ADC
    ordering inside a cluster is flat, so the rescore set must cover
    the tied peers (40 here); the exact stage then separates them.
    Codes stay in range and use all m subspaces."""
    import random

    from pyspark.sql import Row

    from pigout_spark.pipeline.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    rng = random.Random(43)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    pts = []
    for i in range(320):
        c = centers[i % 8]
        pts.append([x + rng.gauss(0, 0.15) for x in c])
    order = list(range(320))
    rng.shuffle(order)
    rows = [Row(vec_id=i, embedding=pts[order[i]]) for i in range(320)]
    emb = spark.createDataFrame(rows)

    books = pq_codebooks(emb, m=4, k=8, n_iters=3, dim=16)
    codes = pq_encode(emb, books)
    first = codes.select("codes").first().codes
    assert len(first) == 4 and all(0 <= c < 8 for c in first)

    k = 5
    got, ref = {}, {}
    for r in pq_topk(emb, 10, k, books, rescore=8).collect():
        got.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in brute_force_topk(emb, emb.filter("vec_id < 10"), k).collect():
        ref.setdefault(r.q_id, set()).add(r.neighbor_id)
    recall = sum(len(got[q] & ref[q]) for q in ref) / sum(len(ref[q]) for q in ref)
    assert recall >= 0.9, recall


def test_ivfpq_tracks_ivf_float_path(spark):
    """IVFPQ returns the same neighbors as plain IVF (same cells, exact
    rescore recovers the float ordering) on clustered data."""
    import random

    from pyspark.sql import Row

    from pigout_spark.pipeline.similarity import ivf_pq_topk, ivf_topk

    rng = random.Random(44)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    pts = []
    for i in range(240):
        c = centers[i % 8]
        pts.append([x + rng.gauss(0, 0.15) for x in c])
    order = list(range(240))
    rng.shuffle(order)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=pts[order[i]]) for i in range(240)]
    )
    got, ref = {}, {}
    # rescore covers the whole ~30-member cell: ADC is tie-flat inside
    # a tight cluster (test_pq_recall docstring), the exact stage sorts
    for r in ivf_pq_topk(emb, 8, 3, m=4, pq_k=8, rescore=10).collect():
        got.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in ivf_topk(emb, 8, 3).collect():
        ref.setdefault(r.q_id, set()).add(r.neighbor_id)
    overlap = sum(len(got[q] & ref[q]) for q in ref) / sum(len(ref[q]) for q in ref)
    assert overlap >= 0.9, overlap


def test_sample_weighted_bias_and_contract(spark):
    """A-ES weighted sampling: exact n, non-positive weights excluded,
    layout-invariant, and heavy weights actually dominate inclusion."""
    from pigout_spark.pipeline.curation import sample_weighted

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    rows += [(2000, 0.0), (2001, None), (2002, -3.0)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    out = sample_weighted(df, 100, "w", ["id"], seed="7")
    got = [r.id for r in out.collect()]
    assert len(got) == 100 and len(set(got)) == 100
    assert not {2000, 2001, 2002} & set(got)
    # the 50 weight-100 rows are ~100x likelier per unit than the 950
    # weight-1 rows; expect most of them in the top-100
    heavy = sum(1 for i in got if i < 50)
    assert heavy >= 40
    # deterministic across physical layouts
    got2 = [r.id for r in sample_weighted(
        df.repartition(13, "w"), 100, "w", ["id"], seed="7").collect()]
    assert sorted(got) == sorted(got2)
    # a different seed gives a different draw
    got3 = [r.id for r in sample_weighted(df, 100, "w", ["id"], seed="8").collect()]
    assert sorted(got) != sorted(got3)


def test_dedup_incremental_drops_corpus_collisions(spark):
    """New docs identical (or band-identical) to corpus docs are
    dropped; novel docs survive; the corpus relation only contributes
    its band index."""
    from pigout_spark.pipeline.dedup import dedup_incremental, lsh_band_index

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
         (11, "totally novel content with unseen words here now")],
        "doc_id bigint, text string",
    )
    idx = lsh_band_index(corpus, "doc_id", "text", 16, 8)
    out = dedup_incremental(new, idx, num_hashes=16, rows_per_band=8)
    assert [r.doc_id for r in out.collect()] == [11]


def test_surprisal_rare_tokens_score_higher(spark):
    from pigout_spark.pipeline.text import surprisal_score

    df = spark.createDataFrame(
        [(1, "the the the the"),            # corpus-typical
         (2, "zyzzyva qwerty plugh xyzzy")],  # all-rare
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.mean_surprisal for r in surprisal_score(df).collect()}
    assert out[2] > out[1]
    # mean over a doc of one repeated token: -ln((4+.5)/(8+.5*5))
    import math
    assert abs(out[1] - (-math.log(4.5 / 10.5))) < 1e-12


def test_bigram_lm_hand_computed_and_fluency(spark):
    """Bigram surprisal on a 3-doc corpus: hand-check one probability
    chain, require <2-token docs dropped, and require a token-shuffled
    doc to score HIGHER than its natural-order twin even though the
    unigram mix is identical (the property unigram surprisal cannot
    see)."""
    import math

    from pigout_spark.pipeline.text import bigram_lm_score

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "a b"),
            (3, "b a"),          # reversed bigram — rarer
            (4, "a"),            # single token: no bigrams
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    assert 4 not in out
    assert out[1].n_bigrams == 5 and out[2].n_bigrams == 1
    # corpus bigrams: doc1 ab,ba,ab,ba,ab; doc2 ab; doc3 ba
    # c2(a,b)=4, c2(b,a)=3, c1(a)=4, c1(b)=3, V=2, alpha=0.5
    p_ab = (4 + 0.5) / (4 + 0.5 * 2)
    p_ba = (3 + 0.5) / (3 + 0.5 * 2)
    assert abs(out[2].mean_bigram_surprisal - (-math.log(p_ab))) < 1e-12
    assert abs(out[3].mean_bigram_surprisal - (-math.log(p_ba))) < 1e-12
    exp1 = -(3 * math.log(p_ab) + 2 * math.log(p_ba)) / 5
    assert abs(out[1].mean_bigram_surprisal - exp1) < 1e-12

    nat = "the cat sat on the mat and the dog sat on the rug " * 4
    shuf = "on mat the sat cat rug the and dog the on sat the " * 4
    df2 = spark.createDataFrame(
        [(i, nat) for i in range(1, 9)] + [(9, shuf)],
        "doc_id bigint, text string",
    )
    s = {r.doc_id: r.mean_bigram_surprisal for r in bigram_lm_score(df2).collect()}
    assert s[9] > s[1]


def test_zorder_key_bit_interleave_and_layout(spark):
    from pigout_spark.plans.partitioning import zorder_key, zorder_layout

    df = spark.createDataFrame(
        [(0, 0), (1, 1), (1, 0), (0, 1), (3, 3)], "a bigint, b bigint"
    )
    got = {(r.a, r.b): r.z for r in df.select(
        "a", "b", zorder_key(["a", "b"], bits=2).alias("z")).collect()}
    # bit i of col j -> position i*2+j: a=bit0, b=bit1 per level
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1
    assert got[(0, 1)] == 2 and got[(1, 1)] == 3
    assert got[(3, 3)] == 15
    # layout: range partitioning on the key appears in the plan and
    # extreme values clamp instead of overflowing
    big = spark.range(1000).select(
        F.col("id").alias("x"), (F.lit(1000) - F.col("id")).alias("y")
    )
    laid, key = zorder_layout(big, ["x", "y"], bits=8)
    plan = laid._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan
    mx = laid.agg(F.max(key)).collect()[0][0]
    assert 0 <= mx < (1 << 16)


# --- q-digest ------------------------------------------------------------


def test_qdigest_partition_invariant_and_bounds(spark):
    """The digest is a pure function of the value multiset: any input
    partitioning yields the identical node set, size stays ≤ 3k, and
    every quantile estimate is within the classic levels·⌊n/k⌋ rank
    error of the true quantile."""
    import math
    import random

    from pigout_spark.pipeline.sketches import qdigest_build, qdigest_quantiles

    rng = random.Random(7)
    vals = [int(rng.betavariate(2, 5) * 4095) for _ in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    d1 = sorted((r.nid, r.cnt) for r in qdigest_build(df, "v").collect())
    d2 = sorted(
        (r.nid, r.cnt) for r in qdigest_build(df.repartition(17), "v").collect()
    )
    assert d1 == d2
    assert sum(c for _, c in d1) == len(vals)
    assert len(d1) <= 3 * 64
    digest = qdigest_build(df, "v")
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    est = {r.q: r.est for r in qdigest_quantiles(digest, qs).collect()}
    sv = sorted(vals)
    slack = 12 * (len(vals) // 64)  # levels·⌊n/k⌋ ranks
    for q in qs:
        r = max(0, math.ceil(q * len(sv)) - 1)
        lo, hi = sv[max(0, r - slack)], sv[min(len(sv) - 1, r + slack)]
        assert lo <= est[q] <= hi, (q, est[q], lo, hi)


def test_qdigest_merge_equals_build_of_union(spark):
    """Merging shard digests re-compresses under the combined n — the
    node totals match the union's multiset exactly, and the median of
    the merged digest matches the whole-set digest's median (merge is
    lossy only in the q-digest-bounded sense)."""
    from pigout_spark.pipeline.sketches import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    df = spark.range(0, 12000).selectExpr("id % 4096 as v")
    whole = qdigest_build(df, "v")
    merged = qdigest_merge(
        [
            qdigest_build(df.filter("id % 3 = 0"), "v"),
            qdigest_build(df.filter("id % 3 = 1"), "v"),
            qdigest_build(df.filter("id % 3 = 2"), "v"),
        ]
    )
    assert merged.agg({"cnt": "sum"}).collect()[0][0] == 12000
    mw = qdigest_quantiles(whole, [0.5]).collect()[0].est
    mm = qdigest_quantiles(merged, [0.5]).collect()[0].est
    assert abs(mw - mm) <= 12 * (12000 // 64)


def test_qdigest_is_self_describing(spark):
    """(k, levels) ride with the digest (the KMV r6 discipline):
    querying or merging under mismatched parameters fails loudly, and
    out-of-universe values fail the build instead of silently wrapping."""
    import pytest
    from pigout_spark.pipeline.sketches import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    df = spark.range(0, 1000).selectExpr("id % 4096 as v")
    sk = qdigest_build(df, "v", k=64, levels=12)
    assert set(sk.columns) == {"nid", "cnt", "k", "levels"}
    with pytest.raises(Exception, match="parameter mismatch"):
        qdigest_quantiles(sk, [0.5], k=128, levels=12).collect()
    with pytest.raises(Exception, match="parameter mismatch"):
        qdigest_merge([sk, sk], k=64, levels=10).collect()
    bad = spark.createDataFrame([(5000,)], "v bigint")
    with pytest.raises(Exception, match="outside"):
        qdigest_build(bad, "v", levels=12).collect()


def test_qdigest_keyed_per_group_quantiles(spark):
    """keys= builds one digest per group (the percentile-rollup
    shape): group digests are independent — each matches the digest of
    that group's rows built alone — and per-key medians respect the
    rank-error bound against exact per-key quantiles."""
    import math

    from pigout_spark.pipeline.sketches import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    df = spark.range(0, 9000).selectExpr(
        "CAST(id % 3 AS STRING) as g",
        "(id * 2654435761) % 4096 as v",  # Knuth-hash spread, deterministic
    )
    keyed = qdigest_build(df, "v", keys=["g"])
    for gid in ["0", "1", "2"]:
        alone = sorted(
            (r.nid, r.cnt)
            for r in qdigest_build(df.filter(f"g = '{gid}'"), "v").collect()
        )
        part = sorted(
            (r.nid, r.cnt) for r in keyed.filter(f"g = '{gid}'").collect()
        )
        assert alone == part, gid
    est = {
        (r.g, r.q): r.est
        for r in qdigest_quantiles(keyed, [0.5], keys=["g"]).collect()
    }
    slack = 12 * (3000 // 64)
    for gid in ["0", "1", "2"]:
        sv = sorted(r.v for r in df.filter(f"g = '{gid}'").collect())
        r_ = max(0, math.ceil(0.5 * len(sv)) - 1)
        lo, hi = sv[max(0, r_ - slack)], sv[min(len(sv) - 1, r_ + slack)]
        assert lo <= est[(gid, 0.5)] <= hi
    # keyed merge: two halves re-merge to the whole, per key
    h1 = qdigest_build(df.filter("id < 4500"), "v", keys=["g"])
    h2 = qdigest_build(df.filter("id >= 4500"), "v", keys=["g"])
    m = qdigest_merge([h1, h2], keys=["g"])
    tot = {r.g: r.tot for r in m.groupBy("g").agg(F.sum("cnt").alias("tot")).collect()}
    assert tot == {"0": 3000, "1": 3000, "2": 3000}


def test_kmv_jaccard_exact_and_estimated(spark):
    """Set overlap from sketches alone: below k everything is exact
    (|A∪B|=50, |A∩B|=10 → J=0.2 precisely); above k the k-min-of-union
    sample estimates J within the ~1/√k band.  Mismatched-k inputs
    fail loudly (self-describing contract)."""
    import pytest

    from pigout_spark.pipeline.sketches import kmv_build, kmv_jaccard

    sa = kmv_build(spark.range(0, 30).selectExpr("id as v"), "v", k=256)
    sb = kmv_build(spark.range(20, 50).selectExpr("id as v"), "v", k=256)
    r = kmv_jaccard(sa, sb, k=256).collect()[0]
    assert (r.n_merged, r.n_common, r.jaccard) == (50, 10, 0.2)

    a = kmv_build(spark.range(0, 6000).selectExpr("id as v"), "v", k=256)
    b = kmv_build(spark.range(3000, 9000).selectExpr("id as v"), "v", k=256)
    est = kmv_jaccard(a, b, k=256).collect()[0]
    assert abs(est.jaccard - 1 / 3) < 4 / 256**0.5  # true J = 3000/9000

    with pytest.raises(Exception, match="k mismatch"):
        kmv_jaccard(sa, b, k=64).collect()


def test_kmv_keyed_per_group_sketches(spark):
    """keys= builds one KMV per group via a per-key rank window: each
    group's sketch equals the sketch of that group's rows built alone,
    keyed merge re-takes k-min per key, and keyed estimates are exact
    below k."""
    from pigout_spark.pipeline.sketches import kmv_build, kmv_estimate, kmv_merge

    df = spark.range(0, 3000).selectExpr("CAST(id % 3 AS STRING) as g", "id as v")
    keyed = kmv_build(df, "v", k=64, keys=["g"])
    for gid in ["0", "1", "2"]:
        alone = sorted(r.h for r in kmv_build(df.filter(f"g = '{gid}'"), "v", k=64).collect())
        part = sorted(r.h for r in keyed.filter(f"g = '{gid}'").collect())
        assert alone == part, gid
    h1 = kmv_build(df.filter("v < 1500"), "v", k=64, keys=["g"])
    h2 = kmv_build(df.filter("v >= 1500"), "v", k=64, keys=["g"])
    m = kmv_merge([h1, h2], k=64, keys=["g"])
    for gid in ["0", "1", "2"]:
        a = sorted(r.h for r in m.filter(f"g = '{gid}'").collect())
        b = sorted(r.h for r in keyed.filter(f"g = '{gid}'").collect())
        assert a == b, gid
    small = spark.range(0, 90).selectExpr("CAST(id % 3 AS STRING) as g", "id as v")
    est = {
        r.g: (r.n_hashes, r.est)
        for r in kmv_estimate(
            kmv_build(small, "v", k=64, keys=["g"]), keys=["g"]
        ).collect()
    }
    assert est == {"0": (30, 30.0), "1": (30, 30.0), "2": (30, 30.0)}


def test_qdigest_rejects_bad_params(spark):
    import pytest

    from pigout_spark.pipeline.sketches import qdigest_build

    df = spark.range(0, 10).selectExpr("id as v")
    with pytest.raises(ValueError, match="levels"):
        qdigest_build(df, "v", levels=30)
    with pytest.raises(ValueError, match="k must"):
        qdigest_build(df, "v", k=1)


def test_qdigest_rejects_malformed_node_id(spark):
    """A digest row with nid < 1 (outside the root-numbered node heap)
    fails the query loudly instead of yielding a negative estimate."""
    import pytest

    from pigout_spark.pipeline.sketches import qdigest_merge, qdigest_quantiles

    bad = spark.createDataFrame(
        [(0, 5, 64, 12), (1, 5, 64, 12)],
        "nid long, cnt long, k int, levels int",
    )
    with pytest.raises(Exception, match="malformed qdigest"):
        qdigest_quantiles(bad, [0.5], k=64, levels=12).collect()
    with pytest.raises(Exception, match="malformed qdigest"):
        qdigest_merge([bad], k=64, levels=12).collect()


def test_sketchctl_cli_build_and_query(tmp_path):
    """sketchctl round-trip: build a KMV sketch dir, estimate from the
    stored artifact — the no-rescan monitoring loop as a CLI."""
    import subprocess
    import sys as _sys

    sk_dir = tmp_path / "kmv"
    r = subprocess.run(
        [
            _sys.executable, "tools/sketchctl.py", "kmv-build",
            "/root/testdata/sf0.001/events.parquet", str(sk_dir),
            "--col", "user_id", "--k", "64",
        ],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    r2 = subprocess.run(
        [_sys.executable, "tools/sketchctl.py", "kmv-est", str(sk_dir)],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    n_hashes, est = r2.stdout.strip().splitlines()[-1].split("\t")
    assert int(n_hashes) == 15 and float(est) == 15.0  # 15 users, exact below k


def test_qdigest_weighted_equals_replicated(spark):
    """weight_col is exactly row replication: the weighted digest of
    (v, w) matches the unweighted digest of v repeated w times, node
    for node; non-positive weights fail loudly."""
    import pytest

    from pigout_spark.pipeline.sketches import qdigest_build

    rows = [(int(v), int(w)) for v, w in
            [(5, 3), (100, 1), (100, 4), (2047, 2), (900, 5), (5, 1)]]
    wdf = spark.createDataFrame(rows, "v bigint, w bigint")
    rep = spark.createDataFrame(
        [(v,) for v, w in rows for _ in range(w)], "v bigint"
    )
    a = sorted((r.nid, r.cnt) for r in qdigest_build(wdf, "v", weight_col="w").collect())
    b = sorted((r.nid, r.cnt) for r in qdigest_build(rep, "v").collect())
    assert a == b and sum(c for _, c in a) == 16
    bad = spark.createDataFrame([(5, 0)], "v bigint, w bigint")
    with pytest.raises(Exception, match="positive"):
        qdigest_build(bad, "v", weight_col="w").collect()


def test_sketches_empty_input_contracts(spark):
    """Empty corpora: global quantiles answer (q, NULL), keyed modes
    answer no rows, KMV estimates 0.0 — never a crash, never a fake
    number."""
    from pigout_spark.pipeline.sketches import (
        kmv_build,
        kmv_estimate,
        qdigest_build,
        qdigest_quantiles,
    )

    empty = spark.createDataFrame([], "v bigint")
    ek = spark.createDataFrame([], "g string, v bigint")
    q = qdigest_quantiles(qdigest_build(empty, "v"), [0.5]).collect()
    assert [(r.q, r.est) for r in q] == [(0.5, None)]
    assert qdigest_quantiles(
        qdigest_build(ek, "v", keys=["g"]), [0.5], keys=["g"]
    ).count() == 0
    r = kmv_estimate(kmv_build(empty, "v", k=16), k=16).collect()[0]
    assert (r.n_hashes, r.est) == (0, 0.0)


def test_shingle_overlap_exact_below_k(spark):
    """Known shingle sets: two 6-token docs per side sharing exactly
    the first doc — union 12 trigram shingles, 4 common, J = 1/3,
    exact because both sides are below k."""
    from pigout_spark.pipeline.curation import shingle_overlap

    a = spark.createDataFrame([("a b c d e f",), ("x y z w q r",)], "text string")
    b = spark.createDataFrame([("a b c d e f",), ("m n o p q r",)], "text string")
    r = shingle_overlap(a, b, n=3, k=256).collect()[0]
    assert (r.n_merged, r.n_common) == (12, 4)
    assert abs(r.jaccard - 1 / 3) < 1e-12
    # disjoint corpora -> zero overlap (the "skip the exact pass" signal)
    c = spark.createDataFrame([("t1 t2 t3 t4 t5 t6",)], "text string")
    r2 = shingle_overlap(c, b, n=3, k=256).collect()[0]
    assert r2.n_common == 0 and r2.jaccard == 0.0


def test_triangle_count_known_graphs(spark):
    """Exact counts on known topologies, robust to direction,
    duplicates, and self-loops; a hub star makes zero wedges (the
    degree-orientation skew guarantee shows up as correctness here,
    plan shape in the plan audit)."""
    from pigout_spark.pipeline.graph import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return triangle_count(df).collect()[0].triangles

    assert tc([(1, 2), (2, 3), (3, 1)]) == 1
    assert tc([(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (3, 1)]) == 1  # dirty
    assert tc([(1, 2), (2, 3), (3, 4), (4, 1)]) == 0  # C4
    assert tc([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]) == 4  # K4
    assert tc([(0, i) for i in range(1, 20)]) == 0  # star
    assert tc([(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (5, 6)]) == 2


def test_triangle_count_density_guard(spark):
    """r13 (VERDICT r12 #6): the exact path refuses LOUDLY when the
    oriented wedge relation exceeds max_wedges, names the sampled
    alternative, and still runs when the user consciously raises the
    budget or disables the guard."""
    import pytest

    from pigout_spark.pipeline.graph import triangle_count

    # K6: 15 edges, oriented out-degrees 5,4,3,2,1,0 (equal degrees,
    # id-minor tiebreak) → Σ C(d,2) = 10+6+3+1 = 20 wedges
    k6 = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)],
        "src bigint, dst bigint",
    )
    with pytest.raises(Exception, match="triangle_count_sampled"):
        triangle_count(k6, max_wedges=19).collect()
    assert triangle_count(k6, max_wedges=20).first().triangles == 20
    assert triangle_count(k6, max_wedges=None).first().triangles == 20


def test_triangle_count_sampled(spark):
    """DOULION estimate: p=1 (kept == buckets) must equal the exact
    count with est6 == triangles exactly; fractional p selects a
    DETERMINISTIC md5 subset (same result on re-run) and scales by
    the exact 1/p³ literal; a fraction keeping zero buckets raises."""
    import pytest

    from pigout_spark.pipeline.graph import (
        triangle_count,
        triangle_count_sampled,
    )

    K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(K4, "src bigint, dst bigint")
    full = triangle_count_sampled(df, fraction=1.0).collect()[0]
    assert full.sampled_edges == 6
    assert full.sampled_triangles == triangle_count(df).collect()[0].triangles == 4
    assert full.est6 == 4.0

    # dense-ish graph: clique on 12 nodes = 220 triangles; p=0.5 keeps
    # a deterministic subset — two runs agree bit-for-bit and the
    # estimate is sampled_triangles * 8
    clique = [(i, j) for i in range(12) for j in range(i + 1, 12)]
    big = spark.createDataFrame(clique, "src bigint, dst bigint")
    r1 = triangle_count_sampled(big, fraction=0.5).collect()[0]
    r2 = triangle_count_sampled(big, fraction=0.5).collect()[0]
    assert (r1.sampled_edges, r1.sampled_triangles, r1.est6) == (
        r2.sampled_edges,
        r2.sampled_triangles,
        r2.est6,
    )
    assert 0 < r1.sampled_edges < 66
    assert r1.est6 == round(r1.sampled_triangles * 8.0, 6)

    with pytest.raises(ValueError, match="keeps 0"):
        triangle_count_sampled(df, fraction=0.00001)


def test_clustering_coefficient_kite(spark):
    """Kite graph (K4 + pendant): hub coef 0.5, clique corners 1.0,
    pendant 0 — per-node triangle credit is exact and zero-filled."""
    from pigout_spark.pipeline.graph import clustering_coefficient, triangle_count

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    pn = {r.n: r.triangles for r in triangle_count(df, per_node=True).collect()}
    assert pn == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}
    cc = {r.n: (r.deg, r.triangles, r.coef) for r in clustering_coefficient(df).collect()}
    assert cc[1] == (4, 3, 0.5)
    assert cc[2] == cc[3] == cc[4] == (3, 3, 1.0)
    assert cc[5] == (1, 0, 0.0)


def test_k_core_peeling_cascades(spark):
    """Peeling must cascade: K4 with a 4-5-6 tail keeps only the K4 at
    k=2 (the tail unravels link by link), a star empties entirely, and
    the convergence cap raises instead of half-peeling."""
    import pytest

    from pigout_spark.pipeline.graph import k_core

    def kc(edges, k, **kw):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return sorted(r.n for r in k_core(df, k=k, **kw).collect())

    K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert kc(K4 + [(4, 5), (5, 6)], 2) == [1, 2, 3, 4]
    assert kc([(0, i) for i in range(1, 6)], 2) == []
    # a 6-chain needs 3 peel rounds at k=2; max_rounds=1 must raise
    chain = [(i, i + 1) for i in range(6)]
    with pytest.raises(RuntimeError, match="converge"):
        kc(chain, 2, max_rounds=1)


def test_kcore_oracle_convergence_guard():
    """The unrolled SQL oracle must fail LOUDLY (not hash-mismatch)
    when its fixed round count is too small for the data: a chain that
    needs 2 peel rounds at k=2 errors under a 1-round unroll and
    returns the exact core under a sufficient one."""
    import duckdb
    import pytest

    from pigout_spark.queries.pipeline_q import _kcore_sql

    con = duckdb.connect()
    # Triangle with a 2-link tail: l_orderkey groups of co-purchases.
    # Orders 1-3 pairwise connect suppliers {1,2,3}; orders 4,5 chain
    # 3-4-5.  At k=2 the tail needs two peel rounds (5 then 4).
    con.execute("""
        CREATE TABLE lineitem AS SELECT * FROM (VALUES
          (1, 1, 99.0), (1, 2, 99.0),
          (2, 2, 99.0), (2, 3, 99.0),
          (3, 1, 99.0), (3, 3, 99.0),
          (4, 3, 99.0), (4, 4, 99.0),
          (5, 4, 99.0), (5, 5, 99.0)
        ) t(l_orderkey, l_suppkey, l_quantity)
    """)
    ok = sorted(r[0] for r in con.execute(_kcore_sql(2, 4)).fetchall())
    assert ok == [1, 2, 3]
    with pytest.raises(duckdb.Error, match="did not converge"):
        con.execute(_kcore_sql(2, 1)).fetchall()


def test_bm25_ranking_hand_computed(spark):
    """BM25 on a 3-doc corpus: doc with both query terms outranks
    single-term docs; rare-term match outranks common-term match;
    non-matching docs are absent."""
    import math

    from pigout_spark.pipeline.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple apple"),
            (3, "banana date fig"),
            (4, "date fig grape"),
        ],
        "doc_id bigint, text string",
    )
    out = bm25_topk(df, ["apple", "banana"], k=10)
    rows = {r.doc_id: r for r in out.collect()}
    assert 4 not in rows
    assert rows[1].n_terms == 2 and rows[2].n_terms == 1 and rows[3].n_terms == 1
    # doc1 matches both terms -> top score
    top = out.collect()[0]
    assert top.doc_id == 1
    # hand-check doc3's single-banana score: N=4, df(banana)=2, tf=1,
    # dl=3, avgdl=3 -> idf = ln((4-2+.5)/(2+.5)+1) = ln(2);
    # denom = 1 + 1.2*(1-.75+.75*1) = 2.2 -> contrib = ln(2)*2.2/2.2
    exp = round(math.log((4 - 2 + 0.5) / (2 + 0.5) + 1) * 1 * 2.2 / 2.2, 6)
    assert abs(rows[3].score - exp) < 1e-9


def test_bm25_plan_prunes_to_query_vocabulary(spark, sf_dir):
    """The isin filter on query terms must sit under the first
    aggregation — the corpus vocabulary never shuffles."""
    from pigout_spark.pipeline.text import bm25_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = bm25_topk(d, ["join", "hash"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "__t IN (join,hash)" in plan or "__t INSET" in plan.replace(" ", "") or "IN (join" in plan


def test_split_by_cluster_no_leakage(spark):
    """Every member of a cluster gets the SAME split label, singletons
    key on their own id (= identical to split_corpus for them)."""
    from pigout_spark.pipeline.curation import split_by_cluster, split_corpus

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 401)], "doc_id bigint"
    )
    # clusters: 1..40 in cluster 1; 41..80 in cluster 41
    clusters = spark.createDataFrame(
        [(i, 1) for i in range(1, 41)] + [(i, 41) for i in range(41, 81)],
        "doc_id bigint, cluster_id bigint",
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = {r.doc_id: r.split for r in split_by_cluster(docs, clusters, w, seed="7").collect()}
    assert len({out[i] for i in range(1, 41)}) == 1
    assert len({out[i] for i in range(41, 81)}) == 1
    # singletons (81..400) match the plain doc-keyed split exactly
    plain = {
        r.doc_id: r.split
        for r in split_corpus(
            docs.filter("doc_id > 80"), w, ["doc_id"], seed="7"
        ).collect()
    }
    for i in range(81, 401):
        assert out[i] == plain[i]


def test_scd2_build_and_snapshot(spark):
    """SCD2: consecutive identical attribute tuples collapse, NULL
    transitions are changes (NULL-safe compare), same-instant changes
    keep tiebreak order, and snapshots reconstruct point-in-time
    state."""
    import datetime as dt

    from pigout_spark.pipeline.scd import scd2_build, scd2_snapshot

    T = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [
        (1, 1, T(0), "bronze"),
        (1, 2, T(10), "bronze"),   # no change -> collapsed
        (1, 3, T(20), "silver"),
        (1, 4, T(30), None),       # value -> NULL is a change
        (1, 5, T(40), None),       # NULL == NULL: not a change
        (1, 6, T(50), "gold"),
        (2, 7, T(5), "x"),
        (2, 8, T(5), "y"),         # same instant: tiebreak order, 0-length
    ]
    df = spark.createDataFrame(
        rows, "k bigint, eid bigint, ts timestamp, tier string"
    )
    hist = scd2_build(df, key="k", ts_col="ts", attrs=["tier"], tiebreak="eid")
    got = sorted(
        (
            (r.k, r.valid_from, r.tier or "")
            for r in hist.collect()
        )
    )
    rows_full = {
        (r.k, r.valid_from): (r.tier, r.valid_to, r.is_current)
        for r in hist.collect()
    }
    assert got == [
        (1, T(0), "bronze"),
        (1, T(20), "silver"),
        (1, T(30), ""),
        (1, T(50), "gold"),
        (2, T(5), "x"),
        (2, T(5), "y"),
    ] or got == [
        (1, T(0), "bronze"),
        (1, T(20), "silver"),
        (1, T(30), ""),
        (1, T(50), "gold"),
        (2, T(5), "y"),
        (2, T(5), "x"),
    ]
    assert rows_full[(1, T(0))] == ("bronze", T(20), False)
    assert rows_full[(1, T(30))] == (None, T(50), False)
    assert rows_full[(1, T(50))] == ("gold", None, True)
    # same-instant pair: x (eid 7) closes at T(5), y (eid 8) stays open
    pair = sorted(
        (r.tier, r.valid_to, r.is_current)
        for r in hist.filter("k = 2").collect()
    )
    assert pair == [("x", T(5), False), ("y", None, True)]
    snap = {
        r.k: r.tier for r in scd2_snapshot(hist, T(25)).collect()
    }
    assert snap == {1: "silver", 2: "y"}
    # single key exchange: both window passes share one hash exchange
    # (AQE toString appends the Initial Plan — count the final only)
    plan = hist._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_fixpoint_contract(spark, caplog):
    """The loop driver runs a fixed-round loop exactly ``rounds``
    rounds, checkpoints every ``every`` rounds, runs each round's jobs
    under "<label> round k", probes before each round, and restores the
    caller's job description on return and on the non-convergence
    raise, which names the label and the rounds run."""
    import logging

    from pigout_spark.pipeline import iterate

    sc = spark.sparkContext
    start = spark.createDataFrame([(0,)], "x bigint")
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return df.select((F.col("x") + 1).alias("x"))

    def top(df):
        return df._jdf.queryExecution().logical().getClass().getSimpleName()

    caplog.set_level(logging.DEBUG, logger=iterate.__name__)
    sc.setJobDescription("outer")
    try:
        for rounds, plan in ((4, "LogicalRDD"), (5, "Project")):
            seen.clear()
            out = iterate.fixpoint("toy", start, step, rounds=rounds, every=2)
            assert out.first().x == rounds
            assert seen == [f"toy round {k}" for k in range(1, rounds + 1)]
            assert top(out) == plan
            assert sc.getLocalProperty("spark.job.description") == "outer"
        assert "toy ran 5 rounds" in caplog.text

        hub, auth = iterate.fixpoint(
            "pair", (start, start), lambda s: (step(s[0]), s[0]), rounds=3
        )
        assert (hub.first().x, auth.first().x) == (3, 2)
        assert top(hub) == top(auth) == "LogicalRDD"

        probed = []

        def reaches(n):
            def converged(df):
                probed.append(sc.getLocalProperty("spark.job.description"))
                return df.first().x >= n

            return converged

        seen.clear()
        out = iterate.fixpoint("toy", start, step, rounds=9, converged=reaches(2))
        assert out.first().x == 2
        assert probed == ["toy round 0", "toy round 1", "toy round 2"]
        assert sc.getLocalProperty("spark.job.description") == "outer"
        # the probe also follows the last round: a loop that needs
        # exactly ``rounds`` rounds converges
        out = iterate.fixpoint("toy", start, step, rounds=2, converged=reaches(2))
        assert out.first().x == 2

        seen.clear()
        with pytest.raises(RuntimeError, match="toy did not converge in 3 rounds"):
            iterate.fixpoint("toy", start, step, rounds=3, converged=reaches(9))
        assert seen == ["toy round 1", "toy round 2", "toy round 3"]
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)


def test_checkpoint_keeps_exact_hash_partitioning(spark):
    """``iterate.checkpoint`` declares the partitioning its plan
    produced when that is a ``HashPartitioning`` over as many partitions
    as the checkpoint holds, so a join on that key plans one exchange
    fewer, with the same rows; a self-join still resolves.  A coalesced
    hash partitioning stays undeclared.  Only a plan with a join loses
    its size estimate.  Reading the plan starts no job beyond what a
    bare lazy ``localCheckpoint`` starts."""
    import re

    from pigout_spark.pipeline.iterate import checkpoint

    def declared(df):
        return df._jdf.queryExecution().logical().productElement(2).toString()

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0].count("Exchange")

    base = spark.range(200).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    other = spark.range(50).select(
        (F.col("id") % 10).alias("k"), (F.col("id") * 2).alias("w")
    )
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kept = checkpoint(base.repartition(4, "k"))
        assert re.fullmatch(r"hashpartitioning\(k#\d+L?, 4\)", declared(kept))
        bare = base.repartition(4, "k").localCheckpoint(eager=False)
        assert declared(bare) == "UnknownPartitioning(0)"

        def q(x):
            return x.join(other, "k").groupBy("k").agg(F.sum("w").alias("s"))

        fast, slow = q(kept), q(bare)
        assert sorted(fast.collect()) == sorted(slow.collect())
        assert exchanges(fast) == exchanges(slow) - 1

        grouped = base.groupBy("k").agg(F.sum("v").alias("s"))
        cut = checkpoint(grouped)
        final = grouped._jdf.queryExecution().executedPlan().finalPhysicalPlan()
        assert final.outputPartitioning().toString().startswith(
            "coalescedhashpartitioning("
        )
        assert declared(cut) == "UnknownPartitioning(0)"

        # a join-free plan keeps its size estimate, a join's is dropped
        def size(df):
            return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

        assert size(cut) < 2**20
        assert size(checkpoint(base.join(other, "k"))) == 2**63 - 1

        pairs = kept.alias("a").join(kept.alias("b"), "k")
        assert pairs.count() == 10 * 20 * 20

        tracker = sc.statusTracker()
        for group, take in (
            ("ckpt-rule", checkpoint),
            ("ckpt-bare", lambda df: df.localCheckpoint(eager=False)),
        ):
            sc.setJobGroup(group, group)
            take(base.repartition(4, "k").groupBy("k").count())
        assert len(tracker.getJobIdsForGroup("ckpt-rule")) <= len(
            tracker.getJobIdsForGroup("ckpt-bare")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_checkpoint_policy_lives_in_iterate():
    """Every checkpoint the package takes goes through
    ``pipeline/iterate.py:checkpoint``, so one function decides storage
    level, size estimate and declared partitioning."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "pigout_spark"
    home = pkg / "pipeline" / "iterate.py"
    stray = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != home
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not stray, stray


def _estimate_graph(spark):
    """A 64-node chain with ids shuffled by ``random.Random(3)``, plus
    chords: ``(src, dst, span)`` with span 1 on the chain, 7 on a
    chord."""
    import random

    ids = list(range(64))
    random.Random(3).shuffle(ids)
    chain = [(a, b, 1) for a, b in zip(ids, ids[1:])]
    chords = [(ids[i], ids[i + 7], 7) for i in range(0, 56, 9)]
    return spark.createDataFrame(
        chain + chords, "src bigint, dst bigint, span int"
    ), ids[0]


#: loop: (call(edges, first id, n), n for few rounds, n for many rounds,
#: whether the result is the loop's state)
_LOOPS = {
    "pagerank": (lambda g, s, n: graph.pagerank(g, iterations=n), 5, 9, False),
    "k_core": (lambda g, s, n: graph.k_core(g, k=n), 3, 2, False),
    "label_propagation": (
        lambda g, s, n: graph.label_propagation(g, rounds=n), 1, 12, True
    ),
    "hits": (lambda g, s, n: graph.hits(g, iterations=n), 1, 4, False),
    "bfs_distances": (
        lambda g, s, n: graph.bfs_distances(g, [s], max_hops=n), 4, 8, True
    ),
    "shortest_paths": (
        lambda g, s, n: graph.shortest_paths(g, [s], iterations=n), 4, 8, True
    ),
    "dedup_clusters": (
        lambda g, s, n: _cc_loop(g.where(F.col("span") <= n)), 7, 1, True
    ),
}


def _cc_loop(edges):
    """dedup_clusters by its round loop: a threshold of -1 keeps a
    graph of any size off the driver."""
    spark = edges.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return dedup_clusters(edges, "src", "dst")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_loop_size_estimate_does_not_compound(spark, loop):
    """Each loop's result has the same optimizer size estimate after
    many rounds as after few: every checkpoint of the loop drops the
    estimate of the plan it cuts.  Kept, a join multiplies it every
    round — label_propagation's had 155,991 digits after 12 rounds on
    this graph.  Both round counts end on a checkpoint.  pagerank runs
    its first round before the loop; k_core peels fewer rounds at k=3
    than at k=2; dedup_clusters needs fewer rounds with the chords than
    on the bare chain (12).  A loop that returns its state returns
    Spark's default estimate, below 2**63; a result that joins the
    state multiplies that default by its other inputs' estimates."""
    call, few, many, is_state = _LOOPS[loop]
    edges, source = _estimate_graph(spark)
    sizes = [
        call(edges, source, n)._jdf.queryExecution().optimizedPlan().stats()
        .sizeInBytes()
        for n in (few, many)
    ]
    assert sizes[0] == sizes[1]
    if is_state:
        assert sizes[1] < 2**63


def test_label_propagation_matches_python_reference(spark):
    """Sync LPA with the (count DESC, label ASC) tie rule must equal a
    direct Python simulation of the same rule — on a barbell (two
    triangles + bridge), a star, and a 4-cycle (the oscillation case),
    at several round counts."""
    from pigout_spark.pipeline.graph import label_propagation

    def simulate(edges, rounds):
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        lab = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n, nbrs in adj.items():
                cnt = {}
                for m in nbrs:
                    cnt[lab[m]] = cnt.get(lab[m], 0) + 1
                best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                new[n] = best
            lab = new
        return lab

    graphs = {
        "barbell": [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "star": [(0, i) for i in range(1, 6)],
        "cycle4": [(1, 2), (2, 3), (3, 4), (4, 1)],
    }
    for name, edges in graphs.items():
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        for rounds in (1, 2, 5):
            got = {
                r.node: r.label
                for r in label_propagation(df, rounds=rounds).collect()
            }
            want = simulate(edges, rounds)
            assert got == want, (name, rounds, got, want)
    # barbell at 5 rounds: the two triangles hold distinct communities
    lab5 = simulate(graphs["barbell"], 5)
    assert len({lab5[n] for n in (1, 2, 3)} | {lab5[n] for n in (4, 5, 6)}) >= 2


def test_pagerank_weighted_and_personalized(spark):
    """Weighted + personalized PageRank vs a direct integer-arithmetic
    simulation of the same fixed-point rules: weights skew the split
    of a node's rank, seeds concentrate the teleport, and an integer
    weight of w on (u,v) equals w parallel (u,v) edges in the
    unweighted op."""
    from pigout_spark.pipeline.graph import PAGERANK_UNIT, pagerank

    edges = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")

    def simulate(edges, iters, seeds=None, d=85):
        nodes = sorted({x for e in edges for x in e[:2]})
        tel = seeds if seeds else nodes
        base = {v: ((100 - d) * PAGERANK_UNIT // 100) // len(tel)
                if (not seeds or v in seeds) else 0 for v in nodes}
        r = {v: PAGERANK_UNIT // len(tel)
             if (not seeds or v in seeds) else 0 for v in nodes}
        W = {}
        for u, v, w in edges:
            W[u] = W.get(u, 0) + w
        for _ in range(iters):
            s = {v: 0 for v in nodes}
            for u, v, w in edges:
                s[v] += (r[u] * w) // W[u]
            r = {v: base[v] + (d * s[v]) // 100 for v in nodes}
        return {v: r[v] / PAGERANK_UNIT for v in nodes}

    got = {r.node: r.rank for r in pagerank(df, iterations=3, weight_col="w").collect()}
    want = simulate(edges, 3)
    assert got == want
    # personalized: teleport only to node 1
    gotp = {
        r.node: r.rank
        for r in pagerank(df, iterations=3, weight_col="w", seeds=[1]).collect()
    }
    wantp = simulate(edges, 3, seeds=[1])
    assert gotp == wantp
    assert gotp[1] > got[1]  # seed concentrates mass near the seed
    # weight w ~ w parallel edges: equal up to floor-division granularity
    # ((r*w) div W vs w·(r div W) differ by < w units of 10^-12)
    flat = [(u, v) for u, v, w in edges for _ in range(w)]
    dfe = spark.createDataFrame(flat, "src bigint, dst bigint")
    gote = {r.node: r.rank for r in pagerank(dfe, iterations=3).collect()}
    for v in got:
        assert abs(gote[v] - got[v]) < 1e-10
    import pytest

    with pytest.raises(ValueError, match="non-empty seed"):
        pagerank(df, iterations=1, seeds=[])


def test_common_neighbors_known_graph_and_hub_cap(spark):
    """Kite graph: hand-checked common counts and Jaccards; the hub
    cap drops wedges centered on high-degree nodes only (documented
    approximation)."""
    from pigout_spark.pipeline.graph import common_neighbors

    # K4 on {1,2,3,4} plus pendant 5 attached to 4
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        (r.u, r.v): (r.common, round(r.jaccard, 6))
        for r in common_neighbors(df).collect()
    }
    # N(1)={2,3,4} N(2)={1,3,4} N(3)={1,2,4} N(4)={1,2,3,5} N(5)={4}
    assert got[(1, 2)] == (2, round(2 / 4, 6))     # {3,4} / {1,2,3,4}
    assert got[(1, 5)] == (1, round(1 / 3, 6))     # {4} / {2,3,4}
    assert got[(3, 5)] == (1, round(1 / 3, 6))
    assert got[(1, 4)] == (2, round(2 / 5, 6))     # {2,3} / {1,2,3,4,5}
    # cap at 3: node 4 (deg 4) stops centering wedges -> (1,5) pair
    # (only witnessed by 4) disappears; (1,2) survives via 3
    capped = {
        (r.u, r.v): r.common
        for r in common_neighbors(df, max_wedge_degree=3).collect()
    }
    assert (1, 5) not in capped
    assert capped[(1, 2)] == 1  # only wedge center 3 remains


def test_hits_matches_python_reference(spark):
    """Integer-L1 HITS vs a direct simulation of the same rule on a
    hub-authority bipartite-ish graph and a cycle, at 1-3 rounds."""
    from pigout_spark.pipeline.graph import PAGERANK_UNIT, hits

    def simulate(edges, iters):
        nodes = sorted({x for e in edges for x in e})
        h = {v: PAGERANK_UNIT for v in nodes}

        def norm(x):
            q = max(sum(x.values()) // PAGERANK_UNIT, 1)
            return {v: x[v] // q for v in x}

        a = {v: 0 for v in nodes}
        for _ in range(iters):
            a = {v: 0 for v in nodes}
            for u, v in edges:
                a[v] += h[u]
            a = norm(a)
            h = {v: 0 for v in nodes}
            for u, v in edges:
                h[u] += a[v]
            h = norm(h)
        return {
            v: (h[v] / PAGERANK_UNIT, a[v] / PAGERANK_UNIT) for v in nodes
        }

    graphs = [
        # 1 and 2 are hubs pointing at authorities 3, 4
        [(1, 3), (1, 4), (2, 3), (2, 4), (5, 3)],
        # directed 3-cycle: symmetric scores
        [(1, 2), (2, 3), (3, 1)],
        # parallel edges count
        [(1, 2), (1, 2), (3, 2)],
    ]
    for edges in graphs:
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        for iters in (1, 3):
            got = {
                r.node: (r.hub, r.authority)
                for r in hits(df, iterations=iters).collect()
            }
            assert got == simulate(edges, iters), (edges, iters)
    # hub/authority separation on the bipartite graph
    out = {
        r.node: r for r in hits(
            spark.createDataFrame(graphs[0], "src bigint, dst bigint"),
            iterations=3,
        ).collect()
    }
    assert out[3].authority > out[3].hub and out[1].hub > out[1].authority


def test_mmr_rerank_diversifies(spark):
    """MMR: pure-relevance pick first, then near-duplicates of already-
    selected items are penalized below a diverse lower-relevance item;
    lambda=1 reduces to plain top-k order."""
    from pigout_spark.pipeline.similarity import mmr_rerank

    # query q looks like [1,0,0]; candidates: two near-identical highly
    # relevant vectors (1, 2), one diverse mid-relevance (3), one weak (4)
    rows = [
        (100, [1.0, 0.0, 0.0]),       # the query itself
        (1, [0.99, 0.14, 0.0]),
        (2, [0.99, 0.141, 0.0]),      # near-copy of 1 (sim ~1.0)
        (3, [0.6, -0.75, 0.2]),       # diverse (sim to 1 ~0.5)
        (4, [0.1, 0.99, 0.0]),        # weak
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 100")
    out = mmr_rerank(emb, q, n_candidates=4, k=3, lam=0.5).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    # rank1: most relevant (1); rank2: MMR prefers diverse 3 over the
    # near-copy 2 (score ~0.056 vs ~-0.005); rank3: 2 beats weak 4
    assert order == [1, 3, 2]
    plain = mmr_rerank(emb, q, n_candidates=4, k=3, lam=1.0).collect()
    assert [r.neighbor_id for r in sorted(plain, key=lambda r: r.rank)] == [1, 2, 3]


def test_curate_cli_splitsafe_stage(tmp_path):
    """The splitsafe stage runs end-to-end and keeps every near-dup
    cluster inside one split."""
    import subprocess
    import sys as _sys

    import duckdb as _duckdb

    out_dir = tmp_path / "curated"
    r = subprocess.run(
        [
            _sys.executable, "tools/curate.py",
            "/root/testdata/sf0.001/documents.parquet",
            str(out_dir), "--stages", "splitsafe",
        ],
        capture_output=True, text=True, timeout=420, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = _duckdb.connect().execute(
        f"SELECT COUNT(*), COUNT(DISTINCT split) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    assert got[0] > 0 and got[1] >= 2


def test_bfs_distances_hand_graph(spark):
    """Path 1→2→3→4 plus a shortcut 1→3 and an unreachable island 9→10:
    hop counts follow the SHORTEST route, the island never appears,
    and the hop budget truncates the frontier."""
    from pigout_spark.pipeline.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (9, 10)], "src long, dst long"
    )
    got = {r.node: r.hops for r in bfs_distances(edges, [1], max_hops=5).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}
    capped = {
        r.node: r.hops for r in bfs_distances(edges, [1], max_hops=1).collect()
    }
    assert capped == {1: 0, 2: 1, 3: 1}


def test_bfs_distances_multi_source_and_undirected(spark):
    from pigout_spark.pipeline.graph import bfs_distances

    edges = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    # directed: node 2 is 1 hop from either seed; seeds stay 0 even
    # when one (7) never appears in the edge relation
    got = {
        r.node: r.hops
        for r in bfs_distances(edges, [1, 3, 7], max_hops=2).collect()
    }
    assert got == {1: 0, 3: 0, 7: 0, 2: 1}
    # undirected from 1: 2 at 1 hop, 3 at 2 hops (through 2)
    und = {
        r.node: r.hops
        for r in bfs_distances(edges, [1], max_hops=3, directed=False).collect()
    }
    assert und == {1: 0, 2: 1, 3: 2}


def test_shortest_paths_prefers_cheap_long_route(spark):
    """1→3 direct costs 10; 1→2→3 costs 2+3=5 — Bellman-Ford must pick
    the two-edge route once the iteration budget allows it, and report
    the one-edge cost when it does not."""
    from pigout_spark.pipeline.graph import shortest_paths

    edges = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (2, 3, 3)], "src long, dst long, w long"
    )
    one = {
        r.node: r.dist
        for r in shortest_paths(edges, [1], weight_col="w", iterations=1).collect()
    }
    assert one == {1: 0, 2: 2, 3: 10}
    two = {
        r.node: r.dist
        for r in shortest_paths(edges, [1], weight_col="w", iterations=2).collect()
    }
    assert two == {1: 0, 2: 2, 3: 5}


def test_shortest_paths_unit_weights_equal_bfs(spark):
    from pigout_spark.pipeline.graph import bfs_distances, shortest_paths

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(0, 3)], "src long, dst long"
    )
    hops = {
        r.node: r.hops for r in bfs_distances(edges, [0], max_hops=6).collect()
    }
    dist = {
        r.node: r.dist
        for r in shortest_paths(edges, [0], iterations=6).collect()
    }
    assert hops == dist


def test_shortest_paths_rejects_bad_weights(spark):
    import pytest as _pytest
    from pigout_spark.pipeline.graph import shortest_paths

    edges = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with _pytest.raises(Exception, match="must be an integer"):
        shortest_paths(edges, [1], weight_col="w", iterations=1).collect()
    with _pytest.raises(ValueError):
        shortest_paths(edges, [], iterations=1)


def test_apply_cdc_merge_semantics(spark):
    """Upsert replaces, delete removes, insert adds, untouched rows
    pass through — and compaction makes the LAST op per key win."""
    from pigout_spark.pipeline.scd import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 10),     # update 2
            (3, "x", "U", 10),      # update 3 ...
            (3, "dead", "D", 20),   # ... then delete it (compaction)
            (4, "d", "I", 10),      # insert 4
            (5, "e", "I", 10),      # insert 5 ...
            (5, "e2", "U", 20),     # ... then update it
        ],
        "k long, v string, op string, ts long",
    )
    got = {r.k: r.v for r in apply_cdc(base, changes, ["k"]).collect()}
    assert got == {1: "a", 2: "b2", 4: "d", 5: "e2"}


def test_compact_changelog_duplicate_ts_guard(spark):
    """Duplicate (key, ts) without a seq column fails loudly; with a
    seq column the higher sequence wins deterministically."""
    import pytest as _pytest
    from pigout_spark.pipeline.scd import apply_cdc, compact_changelog

    dup = spark.createDataFrame(
        [(1, "a", "U", 10, 1), (1, "b", "U", 10, 2)],
        "k long, v string, op string, ts long, seq long",
    )
    with _pytest.raises(Exception, match="duplicate"):
        compact_changelog(dup.drop("seq"), ["k"]).collect()
    win = compact_changelog(dup, ["k"], seq_col="seq").collect()
    assert [(r.k, r.v) for r in win] == [(1, "b")]

    base = spark.createDataFrame([(9, "z")], "k long, v string")
    out = apply_cdc(base, dup, ["k"], seq_col="seq").collect()
    assert {r.k: r.v for r in out} == {9: "z", 1: "b"}
    with _pytest.raises(ValueError, match="missing columns"):
        apply_cdc(base, dup.drop("op"), ["k"])


def test_item_cf_topk_cosine_and_cap(spark):
    """Hand incidence: items A,B share 2 of their users; C co-occurs
    once with each — cosine scores and ranks follow; min_cooc prunes
    the weak pair; the per-user cap drops a hub user's tail items
    deterministically (item order)."""
    import math
    from pigout_spark.pipeline.recsys import item_cf_topk, item_cooccurrence

    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
        (4, "B"),
    ]
    df = spark.createDataFrame(rows, "u long, i string")
    got = {
        (r.item, r.rec_item): r
        for r in item_cf_topk(df, "u", "i", k=5).collect()
    }
    # n_A=3, n_B=3, n_AB=2; n_C=1, n_AC=1
    assert got[("A", "B")].n_ab == 2
    assert got[("A", "B")].score == 2 / math.sqrt(9)
    assert got[("A", "C")].score == 1 / math.sqrt(3)
    assert got[("B", "A")].rank == 1 and ("B", "C") not in got
    pruned = item_cf_topk(df, "u", "i", k=5, min_cooc=2).collect()
    assert {(r.item, r.rec_item) for r in pruned} == {("A", "B"), ("B", "A")}

    # hub user 9 holds 4 items; cap=2 keeps its first two in item order
    hub = df.union(
        spark.createDataFrame(
            [(9, x) for x in ["D", "E", "F", "G"]], "u long, i string"
        )
    )
    cooc = {
        (r.item_a, r.item_b): r.n_ab
        for r in item_cooccurrence(
            hub, "u", "i", max_items_per_user=2
        ).collect()
    }
    assert ("D", "E") in cooc and ("F", "G") not in cooc and ("D", "F") not in cooc


def test_item_cf_hot_user_capped_before_agg(spark):
    """The hub_safe shape caps a pathological hot user (50k distinct
    items) BEFORE any per-user materialization: the plan ranks items
    (dense_rank ≤ cap, planned as WindowGroupLimit so even the sort
    retains only cap rows per user per partition) before the set
    aggregation, so the post-filter set holds ≤ cap values — and the
    hot user contributes exactly its FIRST cap items in item order
    (the oracle's QUALIFY selection).  The r13 default shape
    (collect_set then slice — 22% faster at sf1) must select the SAME
    sets, and must plan NO window at all (the speed is structural)."""
    from pigout_spark.pipeline.recsys import (
        _user_item_lists,
        item_cooccurrence,
    )

    hot = spark.range(50_000).select(
        F.lit(7).alias("u"), F.col("id").alias("i")
    )
    normal = spark.createDataFrame([(1, 3), (1, 5)], "u long, i long")
    ev = hot.union(normal)

    lists = _user_item_lists(ev, "u", "i", max_items_per_user=10, hub_safe=True)
    plan = lists._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # the rank filter must sit BELOW the aggregation (bounded buffer)
    assert plan.index("WindowGroupLimit") > plan.index("collect_set")

    got = {r["__u"]: list(r["items"]) for r in lists.collect()}
    assert got[7] == list(range(10))  # first 10 in item order
    assert got[1] == [3, 5]

    # default (fast) shape: identical selection, window-free plan
    fast = _user_item_lists(ev, "u", "i", max_items_per_user=10)
    fplan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in fplan and "collect_set" in fplan
    fgot = {r["__u"]: list(r["items"]) for r in fast.collect()}
    assert fgot == got

    # hot user's first-10 items yield C(10,2)=45 pairs; user 1's (3,5)
    # coincides with one of them, so 45 distinct pairs with n_ab=2 there
    pc = {
        (r.item_a, r.item_b): r.n_ab
        for r in item_cooccurrence(
            ev, "u", "i", max_items_per_user=10
        ).collect()
    }
    assert len(pc) == 10 * 9 // 2
    assert pc[(3, 5)] == 2

    # the uncapped path keeps the one-exchange collect_set shape
    unc = _user_item_lists(normal, "u", "i", None)
    uplan = unc._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" in uplan


def test_validate_family(spark):
    """Rule report counts NULL-evaluating rules as violations; strict
    mode raises on the first bad row; uniqueness surfaces duplicate
    (incl. all-NULL) keys; ref integrity excludes NULL FKs and groups
    orphans."""
    import pytest as _pytest
    from pigout_spark.pipeline.validate import (
        check_ref_integrity,
        check_rules,
        check_unique,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None)], "id long, amt double"
    )
    rep = {
        r.rule: r
        for r in check_rules(
            df,
            {"amt_positive": F.col("amt") > 0,
             "id_small": F.col("id") < 100},
        ).collect()
    }
    # -3.0 fails, NULL amt counts as a violation too
    assert rep["amt_positive"].n_violations == 2
    assert not rep["amt_positive"]["pass"]
    assert rep["id_small"].n_violations == 0 and rep["id_small"]["pass"]
    with _pytest.raises(Exception, match="amt_positive"):
        check_rules(df, {"amt_positive": F.col("amt") > 0}, strict=True).collect()

    dup = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (None, "x"), (None, "y")],
        "k long, v string",
    )
    got = {(r.k, r.cnt) for r in check_unique(dup, ["k"]).collect()}
    assert got == {(1, 2), (None, 2)}

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    orph = check_ref_integrity(child, parent, {"fk": "pk"}).collect()
    assert [(r.fk, r.n_rows) for r in orph] == [(99, 1)]


def test_kfold_assign_stable_and_partitioning(spark):
    """Folds cover [0, k), partition the rows exhaustively, stay
    stable as the corpus grows (content-keyed), and reject k < 2."""
    import pytest as _pytest
    from pigout_spark.pipeline.curation import kfold_assign

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    out = kfold_assign(df, ["id"], k=5, seed="9").collect()
    folds = {r.id: r.fold for r in out}
    assert set(folds.values()) == {0, 1, 2, 3, 4}
    assert len(folds) == 500

    grown = kfold_assign(
        spark.createDataFrame([(i,) for i in range(1000)], "id long"),
        ["id"], k=5, seed="9",
    ).collect()
    for r in grown:
        if r.id < 500:
            assert folds[r.id] == r.fold  # stability under growth

    with _pytest.raises(ValueError, match="k must"):
        kfold_assign(df, ["id"], k=1)


def test_snapshot_diff_classification(spark):
    """added/removed/changed classification with NULL-safe column
    comparison and exact changed-column lists; unchanged rows absent."""
    import pytest as _pytest
    from pigout_spark.pipeline.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> absent
         (2, "b", None),        # NULL == NULL -> unchanged
         (3, "cc", None),       # s changed AND v NULL<-value
         (5, "e", 50.0)],       # added; 4 removed
        "k long, s string, v double",
    )
    got = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(got) == {3, 4, 5}
    assert got[5].diff == "added" and got[5].changed_cols is None
    assert got[4].diff == "removed"
    assert got[3].diff == "changed"
    assert sorted(got[3].changed_cols) == ["s", "v"]

    only_s = snapshot_diff(old, new, ["k"], compare_cols=["s"]).collect()
    ks = {r.k: r for r in only_s}
    assert set(ks) == {3, 4, 5} and ks[3].changed_cols == ["s"]

    with _pytest.raises(ValueError, match="key"):
        snapshot_diff(old, new, [])


def test_target_encode_loo_and_null_group(spark):
    """Hand-checked LOO encoding (m=0: classical), NULL-category rows
    form their own encoded group (null-safe join), NULL-target rows
    receive the category mean without subtracting anything, and LOO
    singletons with m=0 read NULL."""
    from pigout_spark.pipeline.features import target_encode

    rows = [
        ("a", 1.0), ("a", 3.0), ("a", 5.0),
        ("b", 10.0),
        (None, 2.0), (None, 4.0),
        ("a", None),
    ]
    df = spark.createDataFrame(rows, "k string, y double")
    got = {
        (r.k, r.y): r.target_enc
        for r in target_encode(
            df, ["k"], "y", smoothing=0.0, leave_one_out=True
        ).collect()
    }
    assert got[("a", 1.0)] == 4.0   # (3+5)/2
    assert got[("a", 3.0)] == 3.0   # (1+5)/2
    assert got[("b", 10.0)] is None  # LOO singleton, m=0
    assert got[(None, 2.0)] == 4.0  # NULL group encodes like any other
    assert got[("a", None)] == 3.0  # category mean, nothing removed

    sm = {
        (r.k, r.y): r.target_enc
        for r in target_encode(
            df, ["k"], "y", smoothing=2.0, leave_one_out=False
        ).collect()
    }
    prior = 25.0 / 6  # global mean
    assert sm[("b", 10.0)] == round((10 + 2 * prior) / 3, 6)


def test_feature_hash_sparse_and_deterministic(spark):
    from pigout_spark.pipeline.features import feature_hash

    df = spark.createDataFrame(
        [(1, "alpha"), (1, "alpha"), (1, "beta"), (2, "alpha"), (2, None)],
        "doc long, tok string",
    )
    out = feature_hash(df, ["doc"], "tok", n_buckets=8, seed="s")
    rows = {(r.doc, r.bucket): r.n for r in out.collect()}
    # same token -> same bucket in every doc; counts aggregate; NULL dropped
    ab = [b for (d, b) in rows if d == 1]
    a2 = [b for (d, b) in rows if d == 2]
    assert len(a2) == 1 and a2[0] in ab
    assert sum(rows.values()) == 4
    assert all(0 <= b < 8 for (_, b) in rows)
    # reruns identical (md5, not a session-seeded rng)
    again = {
        (r.doc, r.bucket): r.n
        for r in feature_hash(df, ["doc"], "tok", n_buckets=8, seed="s").collect()
    }
    assert again == rows


def test_robust_scale_median_iqr(spark):
    """v = 1..5: q25=2, med=3, q75=4 (ceil(p n) order stats), IQR=2 →
    scaled = (v-3)/2; constant key reads NULL; NULL passes through."""
    from pigout_spark.pipeline.features import robust_scale

    rows = [("k", float(i)) for i in range(1, 6)] + [
        ("c", 7.0), ("c", 7.0), ("k", None)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = robust_scale(df, "v", ["g"]).collect()
    by = {(r.g, r.v): r.value_rs for r in got}
    assert by[("k", 1.0)] == -1.0 and by[("k", 3.0)] == 0.0
    assert by[("k", 5.0)] == 1.0 and by[("k", 4.0)] == 0.5
    assert by[("c", 7.0)] is None  # zero IQR
    assert by[("k", None)] is None


def test_roc_auc_hand_checked(spark):
    """Perfect separation → 1; inverted → 0; random-ish interleave and
    the tie ½-credit verified against the trapezoid answer; one empty
    class → NULL."""
    from pigout_spark.pipeline.evaluation import roc_auc

    perfect = spark.createDataFrame(
        [(True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1)],
        "y boolean, s double",
    )
    assert roc_auc(perfect, "y", "s").first().auc6 == 1.0
    inverted = spark.createDataFrame(
        [(True, 0.1), (False, 0.9)], "y boolean, s double"
    )
    assert roc_auc(inverted, "y", "s").first().auc6 == 0.0
    # pos at .9/.4, neg at .6/.4: pairs (.9>.6)=1, (.9>.4)=1,
    # (.4<.6)=0, (.4=.4)=.5 → AUC = 2.5/4
    tied = spark.createDataFrame(
        [(True, 0.9), (True, 0.4), (False, 0.6), (False, 0.4)],
        "y boolean, s double",
    )
    assert roc_auc(tied, "y", "s").first().auc6 == 0.625
    solo = spark.createDataFrame([(True, 0.5)], "y boolean, s double")
    r = roc_auc(solo, "y", "s").first()
    assert r.n_neg == 0 and r.auc6 is None


def test_calibration_bins_hand_checked(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pigout_spark.pipeline.evaluation import calibration_bins

    rows = [(0.05, False), (0.05, False), (0.95, True), (1.0, True),
            (0.95, False), (None, True), (0.5, None)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = {r.bin: r for r in calibration_bins(df, "s", "y", bins=10).collect()}
    assert got[0].n == 2 and got[0].obs_rate6 == 0.0
    assert got[0].mean_pred6 == 0.05
    # score 1.0 clamps into the top bin
    assert got[9].n == 3 and got[9].n_pos == 2
    assert got[9].gap6 == round(2 / 3 - (0.95 + 1.0 + 0.95) / 3, 6)

    bad = spark.createDataFrame([(1.5, True)], "s double, y boolean")
    with _pytest.raises(SparkRuntimeException, match="must lie"):
        calibration_bins(bad, "s", "y").collect()


def test_uplift_deciles_hand_checked(spark):
    """2 buckets over 4 rows: top half converts only when treated →
    qini(1) = 1 − 0·1/1 = 1; full population treated 2/2 converts,
    control 1/2 → qini(2) = 2 − 1·2/2 = 1; tiebreak required."""
    import pytest as _pytest
    from pigout_spark.pipeline.evaluation import uplift_deciles

    rows = [
        (1, True, True, 0.9),
        (2, False, False, 0.8),
        (3, True, True, 0.3),
        (4, False, True, 0.2),
    ]
    df = spark.createDataFrame(rows, "id long, tr boolean, y boolean, s double")
    got = {
        r.bucket: r
        for r in uplift_deciles(
            df, "tr", "y", "s", tiebreak_cols=["id"], n_buckets=2
        ).collect()
    }
    b1, b2 = got[1], got[2]
    assert (b1.n, b1.n_t, b1.n_c, b1.y_t, b1.y_c) == (2, 1, 1, 1, 0)
    assert b1.qini6 == 1.0
    assert (b2.n, b2.y_t, b2.y_c) == (4, 2, 1)
    assert b2.qini6 == 1.0
    with _pytest.raises(ValueError, match="tiebreak"):
        uplift_deciles(df, "tr", "y", "s")


def test_url_normalize_rules(spark):
    """Every canonicalization rule hand-checked: fragment, case,
    default ports (kept when non-default), tracking params, param
    sorting, empty-query drop, trailing slash (root kept), scheme-less
    → NULL."""
    from pigout_spark.pipeline.text import url_normalize

    cases = {
        "https://Example.COM:443/docs/?utm_source=x&b=2&a=1#frag":
            "https://example.com/docs?a=1&b=2",
        "http://example.com:80/": "http://example.com/",
        "http://example.com:8080/x": "http://example.com:8080/x",
        "http://example.com": "http://example.com/",
        "https://example.com/a/?fbclid=1": "https://example.com/a",
        "https://example.com/path?ref=abc&z=9":
            "https://example.com/path?z=9",
        "https://example.com/p?refresh=1":
            "https://example.com/p?refresh=1",  # 'ref' must not prefix-match
        # r9 advice: '?' INSIDE the fragment must not be read as a
        # query — hash-route SPA URLs
        "https://app.example.com/page#/route?id=5":
            "https://app.example.com/page",
        "not-a-url": None,
        "/relative/path": None,
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {r.url: r.url_norm for r in url_normalize(df, "url").collect()}
    for u, want in cases.items():
        assert got[u] == want, (u, got[u], want)


def test_target_encode_all_null_category_gets_prior(spark):
    """r9 self-review regression: a category whose targets are ALL NULL
    must shrink fully to the prior (m·ȳ/(0+m) = ȳ), not read NULL."""
    from pigout_spark.pipeline.features import target_encode

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 4.0), ("z", None), ("z", None)],
        "k string, y double",
    )
    got = {
        (r.k, r.y): r.target_enc
        for r in target_encode(df, ["k"], "y", smoothing=5.0).collect()
    }
    assert got[("z", None)] == 3.0  # the global mean
    # and with m=0 an all-NULL category has an empty denominator → NULL
    got0 = {
        r.k: r.target_enc
        for r in target_encode(df, ["k"], "y", smoothing=0.0).collect()
    }
    assert got0["z"] is None


def test_rank_metrics_hand_checked(spark):
    """Worked NDCG/MRR/P@k: q1 has rel (3,0,1) at ranks 1..3 →
    DCG = 7/1 + 0 + 1/2 = 7.5, IDCG = 7 + 1/1.585 + 0 = 7.630930
    (ROUND-6 terms), NDCG = 0.982843; MRR = 1; P@3 = 2/3.  q2 has no
    relevant docs → all-zero scores.  Duplicate ranks and fractional
    grades fail loudly."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pigout_spark.pipeline.evaluation import rank_metrics

    rows = [
        ("q1", 1, 3), ("q1", 2, 0), ("q1", 3, 1),
        ("q2", 1, 0), ("q2", 2, 0),
    ]
    df = spark.createDataFrame(rows, "q string, rank long, rel long")
    got = {r.q: r for r in rank_metrics(df, "q", "rank", "rel", k=3).collect()}
    dcg = 7.0 + 0.0 + round(1 / (2.0), 6)
    idcg = 7.0 + round(1 / 1.584962500721156, 6) + 0.0
    assert got["q1"].ndcg6 == round(dcg / idcg, 6)
    assert got["q1"].mrr6 == 1.0
    assert got["q1"].p_at_k6 == round(2 / 3.0, 6)
    assert (got["q2"].ndcg6, got["q2"].mrr6, got["q2"].p_at_k6) == (0.0, 0.0, 0.0)

    dup = spark.createDataFrame(
        [("q", 1, 1), ("q", 1, 2)], "q string, rank long, rel long"
    )
    with _pytest.raises(SparkRuntimeException, match="duplicate rank"):
        rank_metrics(dup, "q", "rank", "rel").collect()
    frac = spark.createDataFrame([("q", 1, 0.5)], "q string, rank long, rel double")
    with _pytest.raises(SparkRuntimeException, match="relevance grades"):
        rank_metrics(frac, "q", "rank", "rel").collect()


def test_ppm_codec_real_decode_without_pillow(spark):
    """r10 (r9 verdict #7): binary PPM/PGM decodes for REAL in pure
    Python — no pillow, no skip.  Byte-exact roundtrip, header
    comment/whitespace tolerance, the 2-byte-sample path, loud
    failures on malformed payloads, and the Spark mapInPandas stage."""
    from pigout_spark.pipeline.multimodal import (
        decode_image,
        decode_ppm,
        decode_ppm_images,
        encode_ppm,
    )

    # P6 2x2 RGB with hand-placed samples
    raster = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    p6 = encode_ppm(2, 2, raster)
    m = decode_ppm(p6)
    assert (m["width"], m["height"], m["maxval"], m["mode"]) == (2, 2, 255, "RGB")
    assert m["n_px"] == 4
    assert m["ch_sums"] == [10 + 40 + 70 + 100, 20 + 50 + 80 + 110, 30 + 60 + 90 + 120]
    # decode_image takes the pure-Python branch — REAL, pillow-free
    assert decode_image(p6) == {"width": 2, "height": 2, "mode": "RGB"}

    # header comments + arbitrary whitespace (netpbm spec)
    commented = b"P6 # a comment\n# another\n 2\t2 # w h\n255\n" + raster
    assert decode_ppm(commented)["ch_sums"] == m["ch_sums"]

    # P5 grayscale and the 2-byte big-endian sample path
    g = encode_ppm(3, 1, bytes([1, 2, 3]), gray=True)
    mg = decode_ppm(g)
    assert (mg["mode"], mg["ch_sums"]) == ("L", [6])
    wide = encode_ppm(2, 1, bytes([0x01, 0x00, 0x00, 0x02]), maxval=1000, gray=True)
    assert decode_ppm(wide)["ch_sums"] == [256 + 2]

    # loud failures: bad magic, truncated raster
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        decode_ppm(b"BM\x00\x00")
    with _pytest.raises(ValueError, match="truncated"):
        decode_ppm(p6[:-1])
    with _pytest.raises(ValueError, match="raster is"):
        encode_ppm(2, 2, raster[:-1])
    # ADVICE r10: a header MISSING the single post-maxval whitespace
    # byte must raise, not shift the raster read by one byte and
    # return wrong channel sums (b"...255AB" used to skip 'A' and sum
    # 'B' silently when enough payload bytes remained)
    with _pytest.raises(ValueError, match="whitespace separator"):
        decode_ppm(b"P5 1 1 255" + bytes([65, 66]))

    # the distributed stage: exact integer sums, NULL g/b for gray
    df = spark.createDataFrame(
        [(1, bytearray(p6)), (2, bytearray(g))], "doc_id long, payload binary"
    )
    got = {r.doc_id: r for r in decode_ppm_images(df).collect()}
    assert (got[1].sum_r, got[1].sum_g, got[1].sum_b) == (220, 260, 300)
    assert (got[2].sum_r, got[2].sum_g, got[2].sum_b) == (6, None, None)
    assert (got[2].width, got[2].height, got[2].mode) == (3, 1, "L")


def test_wav_codec_round_trip_and_errors(spark):
    """r14 (r13 verdict #8): PCM WAV decodes for REAL in pure Python —
    no audio library, no skip.  Byte-exact roundtrip for 8/16-bit,
    mono/stereo, word-aligned unknown-chunk skip, loud failures on
    malformed payloads, and the Spark mapInPandas stage against the
    synth_wav fixture law."""
    from pigout_spark.pipeline.multimodal import (
        decode_wav,
        decode_wav_audio,
        encode_wav,
        synth_wav,
        synth_wav_payloads,
    )

    # 16-bit stereo, hand-placed samples (incl. negatives)
    frames = b"".join(
        int(v).to_bytes(2, "little", signed=True)
        for v in (100, -5, 7, 7, -100, 0)  # 3 frames x 2 channels
    )
    w = encode_wav(16000, 2, 16, frames)
    m = decode_wav(w)
    assert (m["sample_rate"], m["channels"], m["bits_per_sample"]) == (16000, 2, 16)
    assert m["n_frames"] == 3
    assert m["duration_us"] == 3 * 1_000_000 // 16000
    assert m["ch_sums"] == [100 + 7 - 100, -5 + 7 + 0]

    # 8-bit mono (unsigned per the spec)
    w8 = encode_wav(8000, 1, 8, bytes([0, 128, 255]))
    m8 = decode_wav(w8)
    assert (m8["bits_per_sample"], m8["ch_sums"]) == (8, [0 + 128 + 255])

    # unknown chunks are skipped with word alignment: inject an
    # odd-sized LIST chunk (3 bytes -> 1 pad byte) between fmt and data
    fmt_end = 12 + 8 + 16
    listed = (
        w[:fmt_end]
        + b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
        + w[fmt_end:]
    )
    listed = b"RIFF" + (len(listed) - 8).to_bytes(4, "little") + listed[8:]
    assert decode_wav(listed)["ch_sums"] == m["ch_sums"]

    # loud failures
    import pytest as _pytest

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + bytes(20))
    with _pytest.raises(ValueError, match="WAVE"):
        decode_wav(b"RIFF" + (4).to_bytes(4, "little") + b"AVI ")
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(w[:-1])
    with _pytest.raises(ValueError, match="missing data"):
        headless = w[:fmt_end]
        decode_wav(
            b"RIFF" + (len(headless) - 8).to_bytes(4, "little") + headless[8:]
        )
    with _pytest.raises(NotImplementedError, match="format 3"):
        # float PCM (format code 3) is out of scope, loudly
        bad = bytearray(w)
        bad[20:22] = (3).to_bytes(2, "little")
        decode_wav(bytes(bad))
    with _pytest.raises(ValueError, match="multiple of block_align"):
        encode_wav(8000, 2, 16, b"\x00\x01\x02")

    # the fixture law round-trips for keys covering all branches
    for key in (0, 1, 2, 3, 7, 99, 12345):
        mk = decode_wav(synth_wav(key))
        assert mk["sample_rate"] == 8000 + (key % 5) * 2000
        assert mk["channels"] == 1 + (key % 2)
        assert mk["bits_per_sample"] == (8 if key % 3 == 0 else 16)
        assert mk["n_frames"] == 50 + (key % 100)
        want0 = sum(
            (key * 7 + i * 13) % 256 if key % 3 == 0
            else (key * 7 + i * 13) % 201 - 100
            for i in range(mk["n_frames"])
        )
        assert mk["ch_sums"][0] == want0

    # the distributed stage: synth -> decode, NULL sum_ch1 for mono
    df = spark.createDataFrame([(2,), (7,)], "doc_id long")
    got = {
        r.doc_id: r
        for r in decode_wav_audio(synth_wav_payloads(df)).collect()
    }
    assert (got[2].channels, got[2].sum_ch1) == (1, None)
    assert got[7].channels == 2
    m7 = decode_wav(synth_wav(7))
    assert (got[7].sum_ch0, got[7].sum_ch1) == tuple(m7["ch_sums"])
    assert got[7].duration_us == m7["duration_us"]


def test_avi_container_codec(spark):
    """r14: AVI container metadata decodes for REAL in pure Python —
    spec-shaped LIST hdrl/avih round-trip, the synth_avi law, loud
    failures, and the Spark mapInPandas stage."""
    from pigout_spark.pipeline.multimodal import (
        decode_avi_meta,
        decode_avi_videos,
        encode_avi_header,
        synth_avi,
        synth_avi_payloads,
    )

    b = encode_avi_header(640, 480, 300, 33333, streams=2)
    m = decode_avi_meta(b)
    assert (m["width"], m["height"], m["total_frames"]) == (640, 480, 300)
    assert (m["us_per_frame"], m["streams"]) == (33333, 2)
    assert m["duration_us"] == 300 * 33333
    assert m["fps_milli"] == 1_000_000_000 // 33333  # 30000 milli-fps

    for key in (0, 1, 5, 239, 240, 1000):
        mk = decode_avi_meta(synth_avi(key))
        assert mk["width"] == 160 * (1 + key % 4)
        assert mk["height"] == 120 * (1 + key % 4)
        assert mk["total_frames"] == 24 + (key % 240)
        assert mk["us_per_frame"] == (33333 if key % 2 == 0 else 41666)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="RIFF"):
        decode_avi_meta(b"\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="AVI"):
        from pigout_spark.pipeline.multimodal import synth_wav

        decode_avi_meta(synth_wav(1))  # a WAV is RIFF but not 'AVI '
    with _pytest.raises(ValueError, match="truncated"):
        decode_avi_meta(b[:-1])
    with _pytest.raises(ValueError, match="missing LIST hdrl"):
        nohdr = b"RIFF" + (4).to_bytes(4, "little") + b"AVI "
        decode_avi_meta(nohdr)
    with _pytest.raises(ValueError, match="us_per_frame"):
        encode_avi_header(1, 1, 1, 0)

    df = spark.createDataFrame([(3,), (8,)], "doc_id long")
    got = {
        r.doc_id: r
        for r in decode_avi_videos(synth_avi_payloads(df)).collect()
    }
    assert (got[3].width, got[3].us_per_frame) == (640, 41666)
    assert (got[8].width, got[8].streams) == (160, 1)
    assert got[8].duration_us == (24 + 8) * 33333


def test_readability_hand_checked(spark):
    """Flesch / FK against hand-computed counts; sentence floor at 1;
    zero-word docs read NULL scores; plan carries no UDF/shuffle."""
    from pigout_spark.pipeline.text import readability_scores

    df = spark.createDataFrame(
        [
            (1, "The cat sat. It ran!"),
            (2, "no punctuation here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in readability_scores(df).collect()}
    r1 = got[1]
    # words 5, sentence runs 2 ('.', '!'), vowel groups:
    # the->e, cat->a, sat->a, it->i, ran->a = 5
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (5, 2, 5)
    assert r1.flesch6 == round(206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5), 6)
    assert r1.fk_grade6 == round(0.39 * (5 / 2) + 11.8 * (5 / 5) - 15.59, 6)
    # floor: no [.!?] at all still scores with S=1
    assert got[2].n_sentences == 1 and got[2].flesch6 is not None
    # empty: zero words -> NULL scores, not zero
    r3 = got[3]
    assert (r3.n_words, r3.flesch6, r3.fk_grade6) == (0, None, None)

    plan = readability_scores(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "PythonUDF" not in plan


def test_embedding_covariance_matches_numpy(spark):
    """Exact match to numpy's population covariance of the SAME
    micro-quantized doubles (the operator's contract: quantize →
    exact integer sums → one IEEE readout chain); the dimension gate
    fails loudly on a mixed-width corpus; NULL vectors are excluded."""
    import numpy as np

    from pigout_spark.pipeline.features import (
        embedding_covariance,
        embedding_moments,
    )

    rng = np.random.default_rng(42)
    vecs = rng.normal(scale=0.3, size=(40, 5)).astype("float32")
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(vecs)]
    df = spark.createDataFrame(
        rows + [(999, None)], "id bigint, embedding array<float>"
    )
    got = {(r.i, r.j): (r.n, r.cov6)
           for r in embedding_covariance(df).collect()}
    assert len(got) == 15  # 5·6/2 upper-triangle cells
    mq = np.round(vecs.astype("float64") * 1e6)
    ref = np.cov(mq.T, bias=True) / 1e12
    for (i, j), (n, cov6) in got.items():
        assert n == 40
        assert cov6 == round(ref[i][j], 6), (i, j)

    # first-moment sentinel rows carry exact integer sums
    moms = {(r.i, r.j): int(r.s)
            for r in embedding_moments(df).collect() if r.j == -1}
    for i in range(5):
        assert moms[(i, -1)] == int(mq[:, i].sum())

    # mixed dims fail loudly, not silently misaligned
    bad = df.unionByName(
        spark.createDataFrame(
            [(1000, [1.0, 2.0])], "id bigint, embedding array<float>"
        )
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="expected dim 5"):
        embedding_covariance(bad, dim=5).collect()


def test_pca_components_and_project(spark):
    """Principal axes recover an anisotropic corpus's stretch order;
    components are orthonormal, sign-deterministic, and the JVM
    projection equals the numpy dot product."""
    import numpy as np

    from pigout_spark.pipeline.features import pca_components, pca_project

    rng = np.random.default_rng(3)
    # variance 9 along axis 0, 1 along axis 1, 0.01 along the rest
    base = rng.normal(size=(120, 4)) * np.array([3.0, 1.0, 0.1, 0.1])
    vecs = base.astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(vecs)],
        "id bigint, embedding array<float>",
    )
    comps, ev = pca_components(df, k=2)
    assert len(comps) == 2 and len(ev) == 2
    assert ev[0] > ev[1] > 0
    # leading axis ≈ e0 (dominant variance direction)
    assert abs(comps[0][0]) > 0.95
    # orthonormal within eigh tolerance
    c = np.array(comps)
    assert np.allclose(c @ c.T, np.eye(2), atol=1e-6)
    # sign convention: the largest-|coeff| entry is positive
    for comp in comps:
        assert comp[int(np.argmax(np.abs(comp)))] > 0

    proj = pca_project(df, comps).orderBy("id").select("pca").collect()
    want = vecs.astype("float64") @ c.T
    got = np.array([r.pca for r in proj])
    assert np.allclose(got, want, atol=1e-9)


def test_benford_hand_checked(spark):
    """Digit extraction is string-based (an exact power of ten can
    never flip digit on an engine's log ulp); chi-square matches a
    direct Python computation; non-positive rows excluded; fractional
    values fail loudly."""
    from pigout_spark.pipeline.validate import BENFORD_P, benford_test

    vals = [1.0, 19.0, 23.0, 100.0, 999.0, 1000.0, 5.0, 0.0, -7.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = benford_test(df, "v").first()
    kept = [1, 19, 23, 100, 999, 1000, 5]  # 0, -7, NULL excluded
    assert r.n == len(kept)
    counts = {d: 0 for d in range(1, 10)}
    for v in kept:
        counts[int(str(v)[0])] += 1
    import decimal

    chi = sum(
        decimal.Decimal(
            str(round(
                (counts[d] - len(kept) * BENFORD_P[d - 1]) ** 2
                / (len(kept) * BENFORD_P[d - 1]), 6))
        )
        for d in range(1, 10)
    )
    assert r.chi2_6 == round(float(chi), 6)

    import pytest as _pytest

    frac = spark.createDataFrame([(1.5,)], "v double")
    with _pytest.raises(Exception, match="integral"):
        benford_test(frac, "v").collect()

    # keys= form: one row per key
    df2 = spark.createDataFrame(
        [("a", float(x)) for x in range(1, 50)]
        + [("b", float(x * 7 + 1)) for x in range(1, 30)],
        "k string, v double",
    )
    rows = benford_test(df2, "v", keys=["k"]).collect()
    assert {r.k for r in rows} == {"a", "b"}
    assert all(r.chi2_6 is not None for r in rows)


def test_temperature_weights(spark):
    """α=0.5 weights are √n-proportional and sum to ~1; α=1 recovers
    proportional mixing; the flattening property holds (tail domain's
    weight share exceeds its row share)."""
    from pigout_spark.pipeline.curation import temperature_weights

    df = spark.createDataFrame(
        [("web",)] * 900 + [("code",)] * 100, "source string"
    )
    w = {r.domain: (r.n, r.w6) for r in
         temperature_weights(df, "source", 0.5).collect()}
    assert w["web"][0] == 900 and w["code"][0] == 100
    tot = w["web"][1] + w["code"][1]
    assert abs(tot - 1.0) < 1e-5
    assert abs(w["web"][1] / w["code"][1] - 3.0) < 1e-4  # √900/√100
    assert w["code"][1] > 0.1  # flattened above the 10% row share

    w1 = {r.domain: r.w6 for r in
          temperature_weights(df, "source", 1.0).collect()}
    assert abs(w1["web"] - 0.9) < 1e-5


def test_apply_logistic(spark):
    """σ(0) = 0.5 exactly; monotone in a positive-weight feature;
    NULL features propagate NULL; empty weights raise."""
    import pytest

    from pigout_spark.pipeline.features import apply_logistic

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (None,)], "x double"
    )
    out = {r.x: r.score for r in
           apply_logistic(df, {"x": 2.0}, 0.0).collect()}
    assert out[0.0] == 0.5
    assert out[1.0] == round(1 / (1 + 2.718281828459045 ** -2.0), 6)
    assert out[None] is None
    with pytest.raises(ValueError, match="weight"):
        apply_logistic(df, {}, 0.0)


def test_neyman_allocation_hand_checked(spark):
    """Two strata, equal sizes, one with 10x the spread → its
    allocation ≈ 10x; a constant stratum gets sd 0 and alloc 0; a
    singleton stratum reads NULL sd and alloc 0; budget guard."""
    import pytest

    from pigout_spark.pipeline.curation import neyman_allocation

    rows = (
        [("wide", v) for v in (0, 100) * 50]       # sd ~50.25
        + [("narrow", v) for v in (50, 60) * 50]   # sd ~5.02
        + [("const", 7)] * 40
        + [("single", 3)]
    )
    df = spark.createDataFrame(rows, "s string, v long")
    out = {r.stratum: r for r in
           neyman_allocation(df, "s", "v", 1000).collect()}
    assert out["const"].sd6 == 0.0 and out["const"].alloc == 0
    assert out["single"].sd6 is None and out["single"].alloc == 0
    ratio = out["wide"].alloc / max(out["narrow"].alloc, 1)
    assert 9 <= ratio <= 11
    assert 900 <= out["wide"].alloc + out["narrow"].alloc <= 1000

    with pytest.raises(ValueError, match="total_n"):
        neyman_allocation(df, "s", "v", 0)
    frac = spark.createDataFrame([("a", 1.5)], "s string, v double")
    with pytest.raises(Exception, match="integral"):
        neyman_allocation(frac, "s", "v", 10).collect()


def test_containment_pairs_hand_checked(spark):
    """A 3-token doc fully inside a 10-token doc reads containment 1.0
    regardless of the big doc's size (where Jaccard reads 0.3); a
    disjoint doc pairs with nothing; equal-size duplicate docs orient
    by id; threshold excludes partial overlap below it."""
    from pigout_spark.pipeline.dedup import containment_pairs

    big = "a b c d e f g h i j"
    rows = [
        (1, "a b c"),           # contained in 3
        (2, "x y z"),           # disjoint
        (3, big),
        (4, big),               # exact dup of 3 — equal size, id orients
        (5, "a b q"),           # 2/3 = 0.67 < 0.9
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_small, r.doc_big): r.containment
           for r in containment_pairs(df, "doc_id", "text", 0.9).collect()}
    assert out[(1, 3)] == 1.0 and out[(1, 4)] == 1.0
    assert out[(3, 4)] == 1.0          # equal sizes → smaller id first
    assert (5, 3) not in out and (2, 3) not in out
    assert all(k[0] != 2 and k[1] != 2 for k in out)


def test_token_entropy_hand_checked(spark):
    """Per-doc Shannon entropy: hand-computed ROUND-6 term sums; a
    single-token doc reads exactly 0.0; zero-token docs are dropped;
    the plan holds ONE exchange (the doc-key repartition serves counts,
    total window, and final fold alike)."""
    from pigout_spark.pipeline.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in token_entropy(df).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1.n_tokens, r1.n_distinct) == (3, 2)
    # round(-(2/3)ln(2/3),6) + round(-(1/3)ln(1/3),6) = .270310 + .366204
    assert r1.entropy6 == 0.636514
    assert rows[2].entropy6 == 0.0 and rows[2].n_distinct == 1
    plan = token_entropy(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_good_turing_hand_checked(spark):
    """Counts-of-counts and r* on a known spectrum; the top r and any
    spectrum gap read honest NULLs."""
    from pigout_spark.pipeline.text import good_turing_counts

    df = spark.createDataFrame(
        [(1, "a a a b c d d")], "doc_id long, text string"
    )
    got = {r.r: (r.n_r, r.r_star6) for r in good_turing_counts(df).collect()}
    # spectrum: r=1 (b, c), r=2 (d), r=3 (a)
    assert got[1] == (2, 1.0)  # (1+1) * N2/N1 = 2 * 1/2
    assert got[2] == (1, 3.0)  # (2+1) * N3/N2 = 3 * 1/1
    assert got[3] == (1, None)  # no N4 — honest NULL
    assert set(got) == {1, 2, 3}
    # Katz cutoff: the boundary r's estimator reads N_{r+1} from the
    # FULL spectrum (r13 fuzz find: capping before the self-join
    # zeroed it)
    capped = {
        r.r: (r.n_r, r.r_star6)
        for r in good_turing_counts(df, max_r=2).collect()
    }
    assert set(capped) == {1, 2}
    assert capped[2] == (1, 3.0)  # needs N_3, which the cap excludes


def test_zipf_fit_hand_checked(spark):
    """OLS over the integer micro-unit ln moments replicated in plain
    Python — the exact readout chain; degenerate single-term corpus
    reads NULL fit."""
    import math

    from pigout_spark.pipeline.text import zipf_fit

    df = spark.createDataFrame(
        [(1, "a a a a b b c")], "doc_id long, text string"
    )
    r = zipf_fit(df).first()
    assert r.n_terms == 3
    xs = [round(math.log(i) * 1e6) for i in (1, 2, 3)]
    ys = [round(math.log(n) * 1e6) for n in (4, 2, 1)]
    n = 3.0
    sx, sy = float(sum(xs)), float(sum(ys))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    sxx = float(sum(x * x for x in xs))
    syy = float(sum(y * y for y in ys))
    vx, vy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
    assert r.slope6 == round(cov / vx, 6) + 0.0
    assert r.intercept6 == round((sy - (cov / vx) * sx) / n / 1e6, 6) + 0.0
    assert r.r2_6 == round(cov * cov / (vx * vy), 6) + 0.0
    solo = spark.createDataFrame([(1, "a a")], "doc_id long, text string")
    s = zipf_fit(solo).first()
    assert s.n_terms == 1 and s.slope6 is None


def test_rrf_fuse_hand_checked(spark):
    """Weighted RRF: exact ROUND-6 decimal sums, n_lists vote count,
    loud assert on a non-1-based rank, weight count mismatch raises."""
    import pytest

    from pigout_spark.pipeline.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    got = {r.doc_id: (r.n_lists, r.rrf6) for r in rrf_fuse([a, b]).collect()}
    assert got[20] == (2, round(1 / 61, 6) + round(1 / 62, 6))
    assert got[10] == (1, round(1 / 61, 6))
    assert got[30] == (1, round(1 / 62, 6))
    # weights tilt one ranker
    w = {r.doc_id: r.rrf6 for r in rrf_fuse([a, b], weights=[2.0, 1.0]).collect()}
    assert w[10] == round(2 / 61, 6)
    with pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, b], weights=[1.0])
    bad = spark.createDataFrame([(1, 0)], "doc_id long, rank long")
    with pytest.raises(Exception, match="1-based"):
        rrf_fuse([bad]).collect()


def test_fuzzy_pairs_hand_checked(spark):
    """Blocked Levenshtein near-dup: a one-char typo pair is found with
    its exact distance; the thresholded levenshtein's -1 sentinel never
    leaks (a shared-prefix pair at distance 3 > d is excluded, not
    emitted as -1); the documented recall contract (edits touching BOTH
    prefix and suffix block keys -> miss) holds; an oversized block is
    dropped by the cap."""
    from pigout_spark.pipeline.dedup import fuzzy_pairs

    rows = [
        (1, "chocolate lace"),
        (2, "chocolate lace"),      # exact dup -> dist 0
        (3, "chocolate lacy"),      # suffix typo -> dist 1 (prefix block)
        (4, "chocolate XXce"),      # dist 2 vs 1 (prefix block)
        (5, "chocolate YYYe"),      # dist 3 vs 1 -> excluded (not -1)
        (6, "Xhocolate lacX"),      # edits at BOTH keys -> missed by contract
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r.id_a, r.id_b): r.dist for r in fuzzy_pairs(df, "id", "s").collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert got[(1, 4)] == 2
    assert (1, 5) not in got and (2, 5) not in got  # no -1 leak
    assert all(0 <= v <= 2 for v in got.values())
    assert not any(6 in p for p in got)  # the documented block miss

    # cap: a degenerate shared prefix block above max_block is dropped
    many = spark.createDataFrame(
        [(i, f"aaaa{i:04d}") for i in range(30)], "id long, s string"
    )
    capped = fuzzy_pairs(many, "id", "s", max_dist=2, max_block=10)
    # prefix block 'aaaa' (30 > 10) dropped; suffix keys are all
    # distinct 4-char tails -> no candidates survive
    assert capped.count() == 0


def test_png_codec_round_trip_and_errors(spark):
    """r14: PNG decodes for REAL in pure Python + stdlib zlib — CRC
    verification on every chunk, all five scanline filters round-trip
    (synth_png cycles them row by row), loud failures on malformed
    payloads, and the Spark mapInPandas stage against the fixture
    law."""
    import zlib

    import pytest as _pytest

    from pigout_spark.pipeline.multimodal import (
        decode_png,
        decode_png_images,
        encode_png,
        synth_png,
        synth_png_payloads,
    )

    # every filter type on a hand-built RGB image
    w, h = 5, 5
    pixels = bytes((y * 31 + x * 7 + c * 13) % 256
                   for y in range(h) for x in range(w) for c in range(3))
    png = encode_png(w, h, pixels, color_type=2,
                     row_filters=[0, 1, 2, 3, 4])
    m = decode_png(png)
    assert (m["width"], m["height"], m["color_type"]) == (5, 5, 2)
    assert m["n_pixels"] == 25 and m["n_chunks"] == 3
    want = [sum(pixels[i] for i in range(c, len(pixels), 3))
            for c in range(3)]
    assert m["ch_sums"] == want

    # greyscale
    g = encode_png(3, 2, bytes([0, 128, 255, 1, 2, 3]), color_type=0,
                   row_filters=[4, 1])
    mg = decode_png(g)
    assert (mg["color_type"], mg["ch_sums"]) == (0, [0 + 128 + 255 + 1 + 2 + 3])

    # loud failures: signature, CRC corruption, truncation, size lies
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"GIF89a" + bytes(30))
    bad = bytearray(png)
    bad[40] ^= 0xFF  # inside IHDR/IDAT body -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="truncated|missing"):
        decode_png(png[:-8])
    with _pytest.raises(ValueError, match="pixel buffer"):
        encode_png(4, 4, b"\x00" * 10)
    # unsupported features fail loudly, naming the feature
    ihdr = (3).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
        [8, 3, 0, 0, 0]  # color type 3 = palette
    )
    pal = (b"\x89PNG\r\n\x1a\n"
           + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
           + zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
           + (0).to_bytes(4, "big") + b"IEND"
           + zlib.crc32(b"IEND").to_bytes(4, "big"))
    with _pytest.raises(NotImplementedError, match="color type 3"):
        decode_png(pal)

    # fixture law round-trips across grey/RGB and all filter rows
    for key in (0, 1, 2, 3, 4, 8, 63, 1234):
        mk = decode_png(synth_png(key))
        ww, hh = 8 + key % 9, 8 + key % 7
        bpp = 1 if key % 4 == 0 else 3
        assert (mk["width"], mk["height"]) == (ww, hh)
        assert mk["color_type"] == (0 if key % 4 == 0 else 2)
        assert mk["ch_sums"] == [
            sum((key * 7 + i * 13 + c * 31) % 256 for i in range(ww * hh))
            for c in range(bpp)
        ]

    # the distributed stage: NULL sum_c1/c2 for greyscale
    df = spark.createDataFrame([(4,), (5,)], "doc_id long")
    got = {r.doc_id: r
           for r in decode_png_images(synth_png_payloads(df)).collect()}
    assert (got[4].color_type, got[4].sum_c1, got[4].sum_c2) == (0, None, None)
    m5 = decode_png(synth_png(5))
    assert (got[5].sum_c0, got[5].sum_c1, got[5].sum_c2) == tuple(m5["ch_sums"])


def test_chao1_richness_hand_checked(spark):
    """r14: Chao1 + Good's coverage against hand arithmetic on a tiny
    corpus with known singleton/doubleton structure; empty corpus
    reads zero counts and NULL estimates."""
    from pigout_spark.pipeline.text import chao1_richness

    # tokens: a a a b b c d -> V=4, f1=2 (c,d), f2=1 (b), N=7
    df = spark.createDataFrame([("a a a b b c d",)], "text string")
    r = chao1_richness(df).first()
    assert (r.n_tokens, r.vocab, r.f1, r.f2) == (7, 4, 2, 1)
    assert r.chao1_6 == round(4 + 2 * 1 / (2 * (1 + 1)), 6)  # 4.5
    assert r.coverage6 == round(1 - 2 / 7, 6)

    # no doubletons: the bias-corrected form stays defined (f2 = 0)
    d2 = spark.createDataFrame([("a b c",)], "text string")
    r2 = chao1_richness(d2).first()
    assert (r2.f1, r2.f2) == (3, 0)
    assert r2.chao1_6 == round(3 + 3 * 2 / 2.0, 6)  # 6.0
    assert r2.coverage6 == 0.0  # all singletons

    # empty corpus -> exact zeros, NULL estimates
    e = spark.createDataFrame([], "text string")
    re_ = chao1_richness(e).first()
    assert (re_.n_tokens, re_.vocab, re_.f1, re_.f2) == (0, 0, 0, 0)
    assert re_.chao1_6 is None and re_.coverage6 is None


def test_jw_pairs_matches_duckdb_convention(spark):
    """r14: the pure-Python Jaro-Winkler twin is bit-identical to
    DuckDB's jaro_winkler_similarity (the oracle engine) on edge cases
    and random strings, and jw_pairs emits blocked pairs >= min_sim
    with the ROUND-6 readout."""
    import random

    import duckdb

    from pigout_spark.pipeline.dedup import _jaro_winkler, jw_pairs

    con = duckdb.connect()
    rng = random.Random(31)
    cases = [("", ""), ("", "a"), ("a", "b"), ("abc", "abc"),
             ("martha", "marhta"), ("dixon", "dicksonx"),
             ("aaaaab", "aaaaac"), ("ab", "az"), ("crate", "trace")]
    cases += [
        ("".join(rng.choice("abc") for _ in range(rng.randint(0, 7))),
         "".join(rng.choice("abc") for _ in range(rng.randint(0, 7))))
        for _ in range(500)
    ]
    for a, b in cases:
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert _jaro_winkler(a, b) == want, (a, b)

    df = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "jonathon smith"), (4, "betty jones"),
         (5, "betti jones"), (6, "zzz")],
        "id long, s string",
    )
    got = {(r.id_a, r.id_b): r.jw6
           for r in jw_pairs(df, "id", "s", min_sim=0.9).collect()}
    assert got[(1, 2)] == round(_jaro_winkler(
        "jonathan smith", "jonathon smith"), 6)
    assert (6, 1) not in got and (1, 6) not in got
    # min_sim filters: raise the bar and the betty pair drops
    high = jw_pairs(df, "id", "s", min_sim=0.97).collect()
    assert all(r.jw6 >= 0.97 for r in high)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_sim"):
        jw_pairs(df, "id", "s", min_sim=1.5)


def test_winnowing_fingerprints_reference(spark):
    """r14: winnowing (MOSS) against a pure-Python reference — the
    rightmost-min tie rule, the short-doc single-window convention,
    sub-k docs emitting nothing, and the w+k-1 shared-substring
    guarantee."""
    import hashlib

    from pigout_spark.pipeline.dedup import winnowing_fingerprints

    def ref(text, k=3, w=4):
        toks = [t for t in text.split(" ") if t]
        if len(toks) < k:
            return set()
        hs = [
            int(hashlib.md5(" ".join(toks[i:i + k]).encode())
                .hexdigest()[:7], 16)
            for i in range(len(toks) - k + 1)
        ]
        m = len(hs)
        we = min(w, m)
        out = set()
        for j in range(m - we + 1):
            win = hs[j:j + we]
            mn = min(win)
            out.add((j + max(i for i, v in enumerate(win) if v == mn), mn))
        return out

    texts = [
        (1, "a b c d e f g h a b c d"),
        (2, "a b"),
        (3, "a b c"),
        (4, "x x x x x x x"),
        (5, "p q r s t u v w x y z p q r"),
        (6, "one two three four five six seven"),
        (7, "zz one two three four five six seven yy"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).collect():
        got.setdefault(r.id, set()).add((r.pos, r.fp))
    for i, t_ in texts:
        assert got.get(i, set()) == ref(t_), f"doc {i}"
    # guarantee: docs 6 and 7 share a 7-token run >= w+k-1=6 ->
    # at least one shared fingerprint VALUE
    assert {fp for _, fp in got[6]} & {fp for _, fp in got[7]}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k and w"):
        winnowing_fingerprints(df, "doc_id", "text", k=0)


def test_img_dhash_and_hamming_pairs(spark):
    """r14: dHash row bytes against a pure-Python grid reference, the
    decode->hash Arrow stage, and the pigeonhole Hamming pair join
    (coverage guarantee at d <= 7, exact bit_count verify, loud
    max_dist guard)."""
    import pytest as _pytest

    from pigout_spark.pipeline.dedup import dhash_hamming_pairs
    from pigout_spark.pipeline.multimodal import (
        decode_png,
        dhash_png_images,
        dhash_rows,
        synth_png,
        synth_png_payloads,
    )

    def ref_rows(key):
        m = decode_png(synth_png(key))
        bpp = 1 if m["color_type"] == 0 else 3
        w, h, px = m["width"], m["height"], m["pixels"]

        def luma(x, y):
            i = (y * w + x) * bpp
            return px[i] if bpp == 1 else (
                px[i] + px[i + 1] + px[i + 2]) // 3

        def cell(gx, gy):
            x0 = gx * w // 9
            x1 = max(x0 + 1, (gx + 1) * w // 9)
            y0 = gy * h // 8
            y1 = max(y0 + 1, (gy + 1) * h // 8)
            vals = [luma(x, y) for y in range(y0, y1)
                    for x in range(x0, x1)]
            return sum(vals) // len(vals)

        grid = [[cell(gx, gy) for gy in range(8)] for gx in range(9)]
        return [
            sum((1 << (7 - gx)) if grid[gx][gy] > grid[gx + 1][gy] else 0
                for gx in range(8))
            for gy in range(8)
        ]

    for key in (0, 1, 4, 7, 36, 100):
        m = decode_png(synth_png(key))
        bpp = 1 if m["color_type"] == 0 else 3
        assert dhash_rows(
            m["width"], m["height"], bpp, m["pixels"]
        ) == ref_rows(key), key

    with _pytest.raises(ValueError, match="bad raster"):
        dhash_rows(0, 4, 3, b"")
    with _pytest.raises(ValueError, match="raster is"):
        dhash_rows(4, 4, 3, b"\x00" * 10)

    # the distributed stage agrees with the local reference
    df = spark.createDataFrame([(3,), (11,)], "doc_id long")
    got = {
        r.doc_id: [r.b0, r.b1, r.b2, r.b3, r.b4, r.b5, r.b6, r.b7]
        for r in dhash_png_images(synth_png_payloads(df)).collect()
    }
    assert got[3] == ref_rows(3) and got[11] == ref_rows(11)

    # hamming pairs: hand-built hashes — (1,2) differ by 2 bits,
    # (1,3) by way more than 4, (1,4) identical
    rows = [
        (1, [1, 0, 0, 0, 0, 0, 0, 0]),
        (2, [2, 0, 0, 0, 0, 0, 0, 0]),   # 1^2 = 3 -> 2 bits
        (3, [255, 255, 255, 255, 0, 0, 0, 0]),
        (4, [1, 0, 0, 0, 0, 0, 0, 0]),
    ]
    hdf = spark.createDataFrame(
        [(i, *bs) for i, bs in rows],
        "id long, b0 int, b1 int, b2 int, b3 int, b4 int, b5 int, "
        "b6 int, b7 int",
    )
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in dhash_hamming_pairs(hdf, "id", max_dist=3).collect()
    }
    assert pairs[(1, 2)] == 2 and pairs[(1, 4)] == 0 and pairs[(2, 4)] == 2
    assert (1, 3) not in pairs
    # 8-bit block mode widens coverage to d <= 7 (small corpora)
    pairs8 = {
        (r.id_a, r.id_b): r.dist
        for r in dhash_hamming_pairs(
            hdf, "id", max_dist=7, block_bits=8
        ).collect()
    }
    assert pairs8[(1, 2)] == 2 and (1, 3) not in pairs8
    with _pytest.raises(ValueError, match="pigeonhole"):
        dhash_hamming_pairs(hdf, "id", max_dist=9)
    with _pytest.raises(ValueError, match="pigeonhole"):
        dhash_hamming_pairs(hdf, "id", max_dist=4)  # 16-bit covers <= 3
    with _pytest.raises(ValueError, match="block_bits"):
        dhash_hamming_pairs(hdf, "id", block_bits=12)
