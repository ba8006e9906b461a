"""Pipeline operator behaviors beyond the oracle harness: streaming parity,
LSH recall sanity, multimodal plumbing."""

from __future__ import annotations

import pytest

from filesql_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def test_streaming_matches_batch(spark):
    """The Structured Streaming tumbling window must agree with its batch
    twin row-for-row."""
    qs = all_queries()
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in qs["events_tumbling_window"](spark, SF).collect()
    }
    streamed = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in qs["streaming_events_hourly"](spark, SF).collect()
    }
    assert batch == streamed and len(batch) > 0


def test_lsh_scores_consistent_with_bruteforce(spark):
    """Every LSH-emitted cosine must equal the brute-force cosine for the
    same (query, candidate) pair — LSH prunes candidates, never rescores."""
    qs = all_queries()
    brute = qs["ann_bruteforce_topk"](spark, SF).collect()
    lsh = qs["ann_lsh_topk"](spark, SF).collect()
    brute_pairs = {(r.q_id, r.vec_id): r.cos for r in brute}
    for r in lsh:
        if (r.q_id, r.vec_id) in brute_pairs:
            assert abs(brute_pairs[(r.q_id, r.vec_id)] - r.cos) < 1e-12


SF_RECALL = "/root/testdata/sf0.01"


def _recall_at_5(spark, approx_fn):
    """recall@5 of an approximate top-k against the exact baseline, over
    the 8 fixed query vectors of the sf0.01 embeddings table. Everything
    is deterministic (fixed planes/seeds, exact integer math), so the
    observed recall is an exact number, not a flaky estimate."""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.similarity import brute_force_topk

    emb = load_table(spark, SF_RECALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {(r.q_id, r.vec_id) for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r.q_id, r.vec_id) for r in approx_fn(emb, q).collect()}
    return len(exact & approx) / len(exact)


def test_lsh_recall_gate(spark):
    """Retrieval QUALITY gate (the oracles only prove implementation
    fidelity): multi-band multi-probe LSH must recover >= 80% of the
    true top-5. Measured 1.0 at sf0.01 / 0.825 at sf0.1 (8 disjoint
    4-bit bands + Hamming-1 probes); the old single-band path scored
    0.05 and passed every oracle — this gate fails loudly instead."""
    from filesql_spark.pipeline.similarity import lsh_topk

    assert _recall_at_5(spark, lambda emb, q: lsh_topk(emb, q, k=5)) >= 0.8


def test_ivf_recall_gate(spark):
    """IVF with nprobe=4 must recover >= 80% of the true top-5 (measured
    0.85 at sf0.01, 0.975 at sf0.1 — the high-recall scale path)."""
    from filesql_spark.pipeline.similarity import ivf_topk

    assert _recall_at_5(spark, lambda emb, q: ivf_topk(emb, q, k=5)) >= 0.8


def test_minhash_finds_known_near_dups(spark, tmp_path):
    """Two near-identical docs must be caught; two unrelated ones must not."""
    import pandas as pd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different content about spark clusters and parquet files here"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    df = spark.createDataFrame(pdf)

    from filesql_spark.pipeline.dedup import minhash_lsh_pairs

    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_docs_distance_zero(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["alpha beta gamma delta"] * 2}
    )
    from filesql_spark.pipeline.dedup import simhash_pairs

    rows = simhash_pairs(spark.createDataFrame(pdf)).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_simhash_banding_finds_cross_band_pair(spark):
    """Round-1 regression (VERDICT #4), updated for the 64-bit scheme: a
    distance-3 pair with one flipped bit in each of three different 16-bit
    bands (bits 3, 20, 40) shares only band 3 — any blocking coarser than
    k+1 bands would drop it. Also plants a distance-4 pair sharing bands
    1-3, which must survive candidate generation but be filtered by the
    bit_count verify, asserting the ≤3-pigeonhole bound end to end."""
    from filesql_spark.pipeline.dedup import simhash_band_pairs

    base = 0x1ACD_5339_963A_C5F0
    cross = base ^ (1 << 3) ^ (1 << 20) ^ (1 << 40)  # d=3, bands 0,1,2
    d4 = base ^ 0b1111  # d=4 from base, all in band 0 — bands 1-3 shared
    s = spark.createDataFrame(
        [(1, base), (2, cross), (3, d4)], "doc_id int, simhash long"
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_band_pairs(s).collect()}
    assert got[(1, 2)] == 3  # survives only via the untouched band 3
    assert (1, 3) not in got  # candidate via shared bands, rejected: d=4 > 3
    assert (2, 3) not in got  # d > 3 likewise rejected by the verify filter


def test_simhash_banding_sign_bit(spark):
    """Bit 63 is the int64 sign bit: a negative simhash must block and
    verify exactly like a positive one (band 3 masks off the arithmetic
    sign-extension; bit_count runs on two's complement in both engines)."""
    from filesql_spark.pipeline.dedup import simhash_band_pairs

    base = -(2**63) | 0x123456789ABC  # bit 63 set → negative int64
    near = base ^ (1 << 62) ^ (1 << 5)  # d=2, flips in bands 3 and 0
    s = spark.createDataFrame(
        [(1, base), (2, near)], "doc_id int, simhash long"
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_band_pairs(s).collect()}
    assert got == {(1, 2): 2}


def test_multimodal_decode_deterministic(spark):
    """mapInPandas decode: stable output, correct schema, batch-size-proof."""
    qs = all_queries()
    a = {r.doc_id: (r.width, r.height, r.channels) for r in qs["multimodal_decode"](spark, SF).collect()}
    b = {r.doc_id: (r.width, r.height, r.channels) for r in qs["multimodal_decode"](spark, SF).collect()}
    assert a == b and len(a) > 0
    assert all(1 <= w <= 1920 and 1 <= h <= 1080 and 1 <= c <= 4 for w, h, c in a.values())


def test_real_decode_is_gated():
    # unrecognized container + no PIL in this environment → clean error
    from filesql_spark.pipeline import multimodal

    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            multimodal._real_decode(b"bytes")


def _tiny_png(width: int, height: int, rgb=(10, 20, 30)) -> bytes:
    """A valid PNG built with only the stdlib (zlib CRCs + deflate)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_decode_png_headers(spark):
    """REAL_DECODE path end-to-end: genuine PNG bytes through the same
    mapInPandas plan, dimensions/channels from the actual IHDR."""
    from filesql_spark.pipeline.multimodal import decode_images

    df = spark.createDataFrame(
        [(1, _tiny_png(7, 3), "image/png"), (2, _tiny_png(640, 2), "image/png")],
        "doc_id long, payload binary, mime string",
    )
    got = {r.doc_id: (r.width, r.height, r.channels, r.n_bytes)
           for r in decode_images(df, real=True).collect()}
    assert got[1][:3] == (7, 3, 3)
    assert got[2][:3] == (640, 2, 3)
    assert got[1][3] == len(_tiny_png(7, 3))


def test_real_decode_gif_bmp_headers():
    import struct

    from filesql_spark.pipeline.multimodal import _real_decode

    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 10
    assert _real_decode(gif) == (12, 34, 3)
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 5, -9) + b"\x00\x00" + struct.pack("<H", 24) + b"\x00" * 10
    assert _real_decode(bmp) == (5, 9, 3)


def test_real_decode_pil_fallback(spark):
    """PIL-backed full decode for non-header formats (skips where PIL is
    absent; the container has no codecs — README documents this)."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from filesql_spark.pipeline.multimodal import _real_decode

    buf = io.BytesIO()
    Image.new("L", (11, 4)).save(buf, format="TIFF")
    assert _real_decode(buf.getvalue()) == (11, 4, 1)


def test_streaming_sessionize_equals_batch(spark):
    """The stateful streaming sessionization (session_window + watermark,
    complete mode, availableNow) must equal the batch gaps-and-islands twin
    row for row — the determinism that justifies sharing its SQL oracle."""
    qs = all_queries()
    batch = {
        (r.user_id, r.session_start): (r.n_events, r.total_value, r.session_us)
        for r in qs["events_sessionize"](spark, SF).collect()
    }
    streamed = {
        (r.user_id, r.session_start): (r.n_events, r.total_value, r.session_us)
        for r in qs["streaming_events_sessionize"](spark, SF).collect()
    }
    assert batch == streamed and len(batch) > 0


def test_ivf_results_subset_of_bruteforce_scores(spark):
    """IVF candidates are a subset of the full score space: every emitted
    cosine must equal the brute-force cosine for that pair, and the k-means
    seed/iterations must be deterministic across invocations."""
    qs = all_queries()
    brute = {(r.q_id, r.vec_id): r.cos for r in qs["ann_bruteforce_topk"](spark, SF).collect()}
    a = [(r.q_id, r.rank, r.vec_id, r.cos) for r in qs["ann_ivf_topk"](spark, SF).collect()]
    b = [(r.q_id, r.rank, r.vec_id, r.cos) for r in qs["ann_ivf_topk"](spark, SF).collect()]
    assert a == b and len(a) > 0  # deterministic
    for q_id, _rank, vec_id, cos in a:
        if (q_id, vec_id) in brute:
            assert brute[(q_id, vec_id)] == cos


def test_ivf_centroid_count_scales_with_corpus():
    """k = 2^bits grows with log n — same bound contract as the LSH knobs."""
    from filesql_spark.pipeline.similarity import (
        IVF_MAX_K_BITS,
        IVF_MIN_K_BITS,
        IVF_TARGET_CELL_ROWS,
    )
    from filesql_spark.pipeline.constants import scaled_bits

    assert scaled_bits(500, IVF_MIN_K_BITS, IVF_MAX_K_BITS, IVF_TARGET_CELL_ROWS) == 4
    assert scaled_bits(10**6, IVF_MIN_K_BITS, IVF_MAX_K_BITS, IVF_TARGET_CELL_ROWS) > 4


def test_ivf_index_train_once_serve_many(spark, tmp_path):
    """The train/serve split: serving from a pre-built IvfIndex must give
    the same result as the self-contained path, survive a save()/load()
    round-trip through parquet, and accept an explicit n= (no count() job
    on derived inputs)."""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.similarity import IvfIndex, ivf_index, ivf_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    inline = {tuple(r) for r in ivf_topk(emb, q, k=5).collect()}

    idx = ivf_index(emb, n=emb.count())
    served = {tuple(r) for r in ivf_topk(idx, q, k=5).collect()}
    assert served == inline and len(served) > 0

    idx.save(str(tmp_path / "ivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    reloaded = {tuple(r) for r in ivf_topk(loaded, q, k=5).collect()}
    assert reloaded == inline


def test_stage_metrics_consistent_with_clean_corpus(spark):
    """The funnel must reconcile: stage n_kept chains into the next stage's
    n_in, and the final n_kept equals the actual kept-corpus count."""
    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.compose import clean_corpus, clean_corpus_metrics

    docs = load_table(spark, SF, "documents")
    rows = {r.stage_idx: r for r in clean_corpus_metrics(docs).collect()}
    assert list(rows) == [1, 2, 3] or sorted(rows) == [1, 2, 3]
    assert rows[1].n_in == docs.count()
    assert rows[2].n_in == rows[1].n_kept
    assert rows[3].n_in == rows[2].n_kept
    for r in rows.values():
        assert r.n_dropped == r.n_in - r.n_kept >= 0
    assert rows[3].n_kept == clean_corpus(docs).count()


def test_train_val_split_deterministic_and_exhaustive(spark):
    """Split labels must partition the corpus (every row exactly one
    label), be identical across runs, and land near the target fractions
    on the uniform hash."""
    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.sampling import train_val_test_split

    docs = load_table(spark, SF_RECALL, "documents")
    a = {r.doc_id: r.split for r in train_val_test_split(docs).collect()}
    b = {r.doc_id: r.split for r in train_val_test_split(docs).collect()}
    assert a == b and len(a) == docs.count()
    from collections import Counter

    frac = Counter(a.values())
    n = len(a)
    assert 0.01 <= frac["val"] / n <= 0.12      # 5% target on 500 rows
    assert 0.01 <= frac["test"] / n <= 0.12
    assert frac["train"] / n >= 0.8


def test_stratified_sample_respects_fractions(spark):
    """Kept rows are a deterministic subset: full strata survive intact,
    downsampled strata shrink to ~frac, and membership is stable."""
    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.sampling import stratified_sample

    from pyspark.sql import functions as F

    docs = load_table(spark, SF_RECALL, "documents")
    fr = {"en": 0.3, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    kept = stratified_sample(docs, "lang", fr)
    before = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    after = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang in ("de", "es", "fr", "zh"):
        assert after[lang] == before[lang]
    assert 0.15 <= after["en"] / before["en"] <= 0.45
    assert {tuple(r) for r in kept.select("doc_id").collect()} == \
        {tuple(r) for r in stratified_sample(docs, "lang", fr).select("doc_id").collect()}


def test_explicit_n_matches_count_knob(spark):
    """Passing n= (derived-frame path: no count() job at plan build) must
    give identical results to the count()-fallback for both LSH and the
    embedding dedup."""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.dedup import embedding_dup_pairs
    from filesql_spark.pipeline.similarity import lsh_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    n = emb.count()
    assert {tuple(r) for r in lsh_topk(emb, q, k=5).collect()} == \
        {tuple(r) for r in lsh_topk(emb, q, k=5, n=n).collect()}
    assert {tuple(r) for r in embedding_dup_pairs(emb).collect()} == \
        {tuple(r) for r in embedding_dup_pairs(emb, n=n).collect()}


def test_embedding_dedup_recall_gate(spark):
    """Blocking-quality gate for the embedding dedup (the oracle mirrors
    the blocking, so it can never catch a recall collapse): multi-probe
    banding must recover >= 60% of ALL true cos>=0.35 pairs at sf0.01
    (measured 0.749; single-probe scored 0.29). The 0.35 threshold on
    near-random synthetic vectors is the stress case — true near-dups
    (cos >= 0.9) have far higher per-band match probability."""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.dedup import (
        cosine_pre,
        embedding_dup_pairs,
        with_quantized,
    )

    emb = load_table(spark, SF_RECALL, "embeddings")
    pre = with_quantized(emb).select("vec_id", "qv", "nrm")
    a = pre.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"), F.col("nrm").alias("na"))
    b = pre.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"), F.col("nrm").alias("nb"))
    cos = cosine_pre(F.col("qa"), F.col("na"), F.col("qb"), F.col("nb"))
    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    got = {(r.vec_a, r.vec_b) for r in embedding_dup_pairs(emb).collect()}
    assert got <= exact  # precision 1.0: every emitted pair is verified
    assert len(exact & got) / len(exact) >= 0.6


def test_connected_components_transitive(spark):
    """A~B, B~C must land A, B, C in one component labeled min(A,B,C);
    a long chain (diameter 6) exercises the pointer-jump convergence;
    isolated edges stay separate."""
    from filesql_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (30, 31), (31, 32), (32, 33), (33, 34), (34, 35)],
        "doc_a long, doc_b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 5: 1, 9: 1,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30, 35: 30,
    }


def test_dedup_components_covers_all_docs(spark):
    """dedup_components labels every doc; singletons are their own
    canonical component; exactly one canonical per component."""
    from pyspark.sql import functions as F

    from filesql_spark.pipeline.dedup import dedup_components

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([(2, 7), (7, 4)], "doc_a long, doc_b long")
    out = dedup_components(docs, edges).collect()
    assert len(out) == 10
    comp = {r.doc_id: r.component for r in out}
    assert comp[2] == comp[7] == comp[4] == 2
    canon = [r.doc_id for r in out if r.is_canonical == 1]
    assert sorted(canon) == [0, 1, 2, 3, 5, 6, 8, 9]


def test_bm25_ranks_term_rich_docs_first(spark):
    """On a constructed corpus, the doc saturated with query terms must
    outrank a doc with one hit, which outranks a doc with none; rare
    terms must carry more weight than common ones (idf monotone)."""
    from filesql_spark.pipeline.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark fast fast"),
            (2, "spark slow slow slow slow"),
            (3, "slow slow slow slow slow"),
            (4, "fast slow slow slow slow"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["spark", "fast"], k=4).collect()
    order = [r.doc_id for r in out]
    assert order[0] == 1 and order[-1] == 3
    assert {r.doc_id: r.tf_spark for r in out}[1] == 3


def test_salted_ops_match_unsalted(spark):
    """Salting is a key refinement the merge removes: salted_join and
    salted_two_phase_agg must equal their plain one-shot counterparts
    row-for-row, including a deliberately hot key (80% of rows)."""
    from pyspark.sql import functions as F

    from filesql_spark.pipeline.skew import salted_join, salted_two_phase_agg

    left = spark.createDataFrame(
        [(i, 7 if i % 5 else i % 3, float(i)) for i in range(200)],
        "row_id long, k long, v double",
    )
    right = spark.createDataFrame(
        [(j, f"g{j % 4}") for j in range(10)], "k long, grp string"
    )
    plain = (
        left.join(right, "k")
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("row_id").alias("s"))
    )
    salted = (
        salted_join(left, right, "k", "k", n_salt=4)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("row_id").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    plain_agg = left.groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.col("row_id")).alias("s")
    )
    two_phase = salted_two_phase_agg(left, ["k"], {"s": F.col("row_id")}, n_salt=4)
    assert sorted(map(tuple, plain_agg.collect())) == sorted(
        map(tuple, two_phase.collect())
    )


@pytest.mark.parametrize("n_rows", ["zero", "one", "k_minus_1"])
@pytest.mark.parametrize("op", ["kmeans_fit", "pq_fit"])
def test_trained_operators_fit_fewer_rows_than_k(spark, op, n_rows):
    """The deterministic seed takes the k lowest-id vectors; a corpus
    under k rows seeds fewer than k centroids/codewords, and training
    must size its update loop by the seed, not by k. No rows give no
    centroids and an empty assignment with the usual columns."""
    import random

    from filesql_spark.pipeline.clustering import KMEANS_K, kmeans_fit
    from filesql_spark.pipeline.similarity import PQ_K, PQ_M, pq_encode, pq_fit

    k = KMEANS_K if op == "kmeans_fit" else PQ_K
    n = {"zero": 0, "one": 1, "k_minus_1": k - 1}[n_rows]
    rng = random.Random(7)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    if op == "kmeans_fit":
        centroids, assigned = kmeans_fit(df)
        assert len(centroids) == n
        assert sorted(r.cluster for r in assigned.collect()) == list(range(n))
        assert {"vec_id", "cluster", "dist"} <= set(assigned.columns)
    else:
        books = pq_fit(df)
        assert len(books) == PQ_M and all(len(b) == n for b in books)
        assert pq_encode(df, books).count() == n


def _random_vectors(spark, n):
    import random

    rng = random.Random(7)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


@pytest.mark.parametrize("n_rows", ["zero", "one", "k_minus_1"])
def test_ivf_index_fits_fewer_rows_than_k(spark, n_rows):
    """An IVF index over 0, 1 or k-1 rows (k = the smallest cell count)
    has at most one cell per row, assigns every row to one of its cells,
    and serves top-k without the query row itself."""
    from filesql_spark.pipeline.similarity import IVF_MIN_K_BITS, ivf_index, ivf_topk

    n = {"zero": 0, "one": 1, "k_minus_1": (1 << IVF_MIN_K_BITS) - 1}[n_rows]
    df = _random_vectors(spark, n)
    index = ivf_index(df)
    cids = {r.cid for r in index.cents.collect()}
    assert len(cids) <= n
    assert sorted(r.vec_id for r in index.corpus.collect()) == list(range(n))
    assert {r.cid for r in index.corpus.collect()} <= cids
    top = ivf_topk(index, df, k=5).collect()
    assert all(r.q_id != r.vec_id for r in top)
    per_query = {}
    for r in top:
        per_query[r.q_id] = per_query.get(r.q_id, 0) + 1
    assert all(c <= min(5, n - 1) for c in per_query.values())


@pytest.mark.parametrize("n_rows", ["zero", "one", "k_minus_1"])
def test_diversity_sample_fits_fewer_rows_than_k(spark, tmp_path, n_rows):
    """pipeline_diversity_sample (k-means fit, then a 2-per-cluster
    quota) over fewer embeddings than k: one centroid per row, so every
    row is sampled."""
    from filesql_spark.pipeline.clustering import KMEANS_K
    from filesql_spark.queries.pipeline_queries import (
        ensure_diversity_centroids,
        pipeline_diversity_sample,
    )

    n = {"zero": 0, "one": 1, "k_minus_1": KMEANS_K - 1}[n_rows]
    _random_vectors(spark, n).write.parquet(str(tmp_path / "embeddings.parquet"))
    sample = pipeline_diversity_sample(spark, str(tmp_path)).collect()
    assert len(ensure_diversity_centroids(spark, str(tmp_path))) == n
    assert sorted(r.vec_id for r in sample) == list(range(n))
