"""Similarity search over embedding columns.

- brute_force_topk: exact cosine top-k — the correctness baseline. One
  broadcast of the (small) query set against a full scan of the corpus;
  per-query top-k via window row_number (TakeOrdered-style, no global sort).
- lsh_topk: random-hyperplane LSH — the scale path. A 32-plane sign
  signature split into ``ann_n_bands`` disjoint bands of
  ``ann_band_bits(n)`` planes; candidates share ANY band cell
  (OR-amplification). Band width is the log-n scale knob (per-band cell
  population stays ~ANN_BAND_TARGET_ROWS as the corpus grows); band
  count is the recall knob (measured recall@5 vs brute force: 0.05 with
  one band, 0.80 with 8 disjoint 4-bit bands on the sf0.01 embeddings —
  see tests/test_pipeline.py recall gates).

Both precompute (quantized vector, squared norm) once per row
(``with_quantized``) so the pairwise work is a single int64 dot product.
"""

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from filesql_spark.pipeline.constants import (
    HYPERPLANES_ALL,
    ann_band_bits,
    ann_n_bands,
)
from filesql_spark.pipeline.dedup import cosine_pre, with_quantized

# integer hyperplanes (×10⁴): sign tests become exact int arithmetic
HYPERPLANES_INT = [[round(w * 10_000) for w in plane] for plane in HYPERPLANES_ALL]


def _make_bucket_udf():
    """Vectorized (Arrow-batched) signature assignment: one int64 matmul
    per batch instead of 32 interpreted fold expressions per row (measured
    ~5× on the LSH path at sf0.1). Integer arithmetic is exact, so the
    result is still bit-identical to the pure-SQL DuckDB oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(HYPERPLANES_INT, dtype=np.int64)  # 32 × 64
    weights = 1 << np.arange(len(HYPERPLANES_INT), dtype=np.int64)

    def bucket_fn(qv: pd.Series) -> pd.Series:
        m = np.vstack(qv.to_numpy()).astype(np.int64)  # n × 64
        dots = m @ planes.T  # n × 32, exact int64 (|terms| < 2^35)
        return pd.Series(((dots > 0) * weights).sum(axis=1).astype("int64"))

    return pandas_udf(bucket_fn, "long")


_bucket_udf = None


def _bucket(qv: Column) -> Column:
    """Full 32-plane sign signature of the pre-quantized vector — callers
    mask the low bits they need (plane i contributes bit i)."""
    global _bucket_udf
    if _bucket_udf is None:
        _bucket_udf = _make_bucket_udf()
    return _bucket_udf(qv)


def brute_force_topk(
    df: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is small → broadcast; corpus side streams once. Ties broken
    by vec_id for determinism.
    """
    corpus = with_quantized(df).select("vec_id", "qv", "nrm")
    q = with_quantized(queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = cosine_pre(F.col("q_qv"), F.col("q_nrm"), F.col("qv"), F.col("nrm"))
    scored = (
        F.broadcast(q)
        .join(corpus, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cos")
    )


def _band_cells(sig: str, bits: int, nb: int) -> Column:
    """Explode-ready array of (band, cell): band i is the ``bits``-plane
    group at offset i·bits of the 32-plane signature (disjoint groups —
    overlapping strides correlate the bands and cost measurable recall).

    Built as one HOF expression over the ``sig`` COLUMN NAME (not a
    Column) — the unrolled per-band struct form cost ~0.4 s of py4j plan
    construction per invocation (same pathology as simhash, fixed r9);
    the generated (band, cell) values are bit-identical."""
    mask = (1 << bits) - 1
    return F.expr(
        f"transform(sequence(0, {nb - 1}), "
        f"i -> struct(i AS band, (shiftright({sig}, i * {bits}) & {mask}) AS cell))"
    )


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n: int | None = None,
    probe: int = 1,
) -> DataFrame:
    """Multi-band, multi-probe LSH approximate top-k: a candidate is any
    corpus row sharing at least one band cell with the query
    (OR-amplification over ``ann_n_bands`` disjoint ``ann_band_bits(n)``-
    plane bands), where — with ``probe=1`` — each query band probes its
    own cell AND every Hamming-1 neighbor cell (multi-probe LSH, Lv et
    al. VLDB'07: near-miss sign flips are the dominant recall loss, and
    probing them query-side costs nothing on the corpus index). Measured
    recall@5 vs brute force: 1.0 at sf0.01, 0.825 at sf0.1 (0.80 / 0.20
    single-probe) — pinned by the recall-gate tests.

    Scale shape: per-band cell population stays ~ANN_BAND_TARGET_ROWS
    (band width grows with log n), so the candidate set per query is
    ≤ bands · (1 + probe·bits) · target rows — log-n growth, bounded as
    the corpus grows. The corpus side is untouched by probing (still one
    row per band); only the broadcast query set fans out. The per-pair
    work after the band equi-join is one exact int64 cosine; duplicate
    (query, candidate) pairs collapse in a map-side partial agg before
    the shuffle.

    ``n`` feeds the scale knob; pass it explicitly for derived frames —
    the ``df.count()`` fallback is metadata-only on a parquet scan but a
    full job on a computed input.
    """
    n = df.count() if n is None else n
    bits = ann_band_bits(n)
    nb = ann_n_bands(bits)
    corpus = with_quantized(df).select(
        "vec_id", "qv", "nrm", _bucket(F.col("qv")).alias("sig")
    )
    c = corpus.select(
        "vec_id", "qv", "nrm", F.explode(_band_cells("sig", bits, nb)).alias("b")
    ).select("vec_id", "qv", "nrm", "b.*")
    q = with_quantized(queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
        _bucket(F.col("qv")).alias("sig"),
    )
    if probe >= 1:
        # each band's probe set: the exact cell + its bits Hamming-1
        # neighbors (flip one plane's sign bit at a time); j = -1 is the
        # unflipped probe — one HOF expression, same rewrite as
        # _band_cells
        mask = (1 << bits) - 1
        cell_sql = f"(shiftright(sig, i * {bits}) & {mask})"
        cells = F.expr(
            f"""flatten(transform(sequence(0, {nb - 1}), i ->
            transform(sequence(-1, {bits - 1}), j ->
              struct(i AS band,
                CASE WHEN j < 0 THEN {cell_sql}
                     ELSE {cell_sql} ^ shiftleft(1, j) END AS cell))))"""
        )
    else:
        cells = _band_cells("sig", bits, nb)
    qb = q.select("q_id", "q_qv", "q_nrm", F.explode(cells).alias("b")).select(
        "q_id", "q_qv", "q_nrm", "b.*"
    )
    cos = cosine_pre(F.col("q_qv"), F.col("q_nrm"), F.col("qv"), F.col("nrm"))
    scored = (
        F.broadcast(qb)
        .join(c, ["band", "cell"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    # a pair matching in m bands appears m times with the identical cosine;
    # max() dedupes in the partial agg (map-side) before anything shuffles
    dedup = scored.groupBy("q_id", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cos")
    )


# ------------------------------------------------------------------- IVF

IVF_ITERS = 3   # unrolled Lloyd iterations (fixed so the oracle can unroll)
# Cells probed per query: the recall knob. Measured recall@5 vs brute
# force on the synthetic embeddings: nprobe=2 → 0.75 (sf0.01), 3 → 0.80,
# 4 → 0.85 (0.975 at sf0.1); serving cost is ~nprobe/k of the corpus per
# query, negligible at the scaled k ≤ 1024. Pinned by recall-gate tests.
IVF_NPROBE = 4

# k scale knob: 2^bits centroids, bits ~ log2(n/IVF_TARGET_CELL_ROWS) in
# [4, 10] → k in [16, 1024]; expected cell population stays ≤ target
IVF_MIN_K_BITS = 4
IVF_MAX_K_BITS = 10
IVF_TARGET_CELL_ROWS = 256

# training-sample knob: Lloyd iterations run on the deterministic modulo
# sample vec_id % 2^tbits == 0 with tbits ~ log2(n/IVF_TRAIN_TARGET_ROWS),
# so quantizer training stays ~IVF_TRAIN_TARGET_ROWS rows no matter the
# corpus size (standard IVF practice: train on a sample, assign everything).
# tbits = 0 (no sampling) below 4096 rows.
IVF_TRAIN_TARGET_ROWS = 4096
IVF_MAX_TRAIN_BITS = 20


def _sqdist_fold(qv: Column, c: Column) -> Column:
    """Squared L2 between an int64-quantized vector and a double centroid.

    Deterministic across engines: each term is one subtract + one multiply,
    and the sum is a SEQUENTIAL left fold over the dimension order —
    bit-identical to the DuckDB oracle's list_reduce((a,b) -> a+b) (the
    0.0 init is absorbed exactly: terms are ≥ +0.0). Never use a pairwise
    or tree summation here; reordering changes the last ulp and can
    flip an argmin tie."""
    terms = F.zip_with(
        qv, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(terms, F.lit(0.0), lambda a, b: a + b)


_sqdist_udf = None


def _sqdist(qv: Column, c: Column) -> Column:
    """Arrow-batched twin of ``_sqdist_fold`` (~30× over the interpreted
    fold; used on the serve-side probe ranking, where the top-nprobe
    window needs a per-(query, centroid) distance COLUMN — the build-side
    argmin assignment uses :func:`_assign_cid_udf` instead). Bit-exact to
    the fold: the accumulation loops over DIMENSIONS in order (vectorized
    across rows), so each row's sum is the identical left-assoc IEEE
    sequence t1 + t2 + … — NOT numpy's pairwise .sum(), which reorders and
    can flip an argmin tie against the DuckDB oracle."""
    global _sqdist_udf
    if _sqdist_udf is None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def fn(qv_s: pd.Series, c_s: pd.Series) -> pd.Series:
            if len(qv_s) == 0:
                return pd.Series([], dtype="float64")
            x = np.vstack(qv_s.to_numpy()).astype(np.float64)  # exact: |qv| < 2^53
            cc = np.vstack(c_s.to_numpy())
            t = x - cc
            t *= t
            acc = np.zeros(len(qv_s), dtype=np.float64)
            for i in range(t.shape[1]):  # sequential in dimension order
                acc += t[:, i]
            return pd.Series(acc)

        _sqdist_udf = pandas_udf(fn, "double")
    return _sqdist_udf(qv, c)


def _assign_cid_udf(cent_rows: list[tuple[int, list[float]]]):
    """Arrow-batched nearest-centroid assignment against DRIVER-HELD
    centroids (guide §4.2: one vectorized kernel per batch, and §2.4:
    zero shuffle). The centroid matrix — k·d doubles, ≤ 0.5 MB at the
    k=1024 cap — ships inside the UDF closure, so assignment is a pure
    map over (qv) rows: n Python-boundary crossings of one 64-int column,
    instead of the previous broadcast crossJoin that fanned n·k rows
    (each carrying qv AND the centroid) through Arrow and paid a
    ``min_by`` shuffle to collapse them (r18; the fan-out was the whole
    ann_ivf_build cost, and at 100 TB it is k× the corpus through the
    Python boundary).

    Bit-exact to ``_sqdist_fold``/the DuckDB oracle: distances accumulate
    SEQUENTIALLY in dimension order (vectorized across rows/centroids,
    never numpy's pairwise sum), and ``argmin`` takes the FIRST minimum
    over centroids sorted by cid — the same (dist, cid) tie order as the
    oracle's ROW_NUMBER."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([cid for cid, _ in cent_rows], dtype=np.int64)
    cmat = np.array([c for _, c in cent_rows], dtype=np.float64)  # k × d

    def fn(qv_s: pd.Series) -> pd.Series:
        if len(qv_s) == 0:
            return pd.Series([], dtype="int64")
        x = np.vstack(qv_s.to_numpy()).astype(np.float64)  # exact: |qv| < 2^53
        d = np.zeros((x.shape[0], cmat.shape[0]), dtype=np.float64)
        for i in range(cmat.shape[1]):  # sequential in dimension order
            t = x[:, i, None] - cmat[None, :, i]
            d += t * t
        return pd.Series(cids[np.argmin(d, axis=1)])

    return pandas_udf(fn, "long")


def _lloyd_rows(
    pts: DataFrame, k: int, iters: int = IVF_ITERS, sample_factor: int = 1
) -> list[tuple[int, list[float]]]:
    """Driver-held Lloyd loop: ``iters`` rounds of (closure-UDF assign →
    per-cell exact int64 dimension sums → one double division per
    coordinate), returning the converged centroids as (cid, coords)
    sorted by cid. The driver traffic is k·(d+1) numbers per round —
    independent of data size (the same bounded-collect contract as
    ``clustering.kmeans_fit``); the data-side cost per round is ONE scan
    with a map-combined k-row aggregate and zero joins (r18 — previously
    each round was a broadcast crossJoin fanning n·k rows through Arrow
    plus an eager localCheckpoint job). Cells that lose all points drop
    out (standard Lloyd, mirrored by the oracle's GROUP BY); the
    float(s)/float(n) mean is the identical cast-then-divide IEEE
    sequence both engines run."""
    seed = (
        pts.filter(F.col("vec_id") < k * sample_factor)
        .select(F.col("vec_id").alias("cid"), "qv")
        .collect()
    )
    rows = sorted((r.cid, [float(v) for v in r.qv]) for r in seed)
    dims = range(len(HYPERPLANES_ALL[0]))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col("qv")[i]).alias(f"s{i}") for i in dims
    ]
    for _ in range(iters):
        assign = pts.withColumn("cid", _assign_cid_udf(rows)(F.col("qv")))
        stats = assign.groupBy("cid").agg(*aggs).collect()
        rows = sorted(
            (r["cid"], [float(r[f"s{i}"]) / float(r["n"]) for i in dims])
            for r in stats
        )
    return rows


def _cents_df(spark: SparkSession, rows: list[tuple[int, list[float]]]) -> DataFrame:
    """(cid, c: array<double>) DataFrame from driver-held centroid rows —
    k ≤ 1024 rows, no lineage to truncate (callers that serve from it
    repeatedly should localCheckpoint it once — the relation otherwise
    executes as applySchemaToPythonRDD, a driver-Python serialization job
    repeated per action). Values are bit-preserved: collect and
    createDataFrame round-trip float64 exactly."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("cid", LongType(), False),
            StructField("c", ArrayType(DoubleType(), False), False),
        ]
    )
    return spark.createDataFrame(
        [(int(cid), list(c)) for cid, c in rows], schema
    )


def ivf_centroids(
    pts: DataFrame, k: int, iters: int = IVF_ITERS, sample_factor: int = 1
) -> DataFrame:
    """K-means coarse quantizer: (cid, c: array<double>) after ``iters``
    Lloyd iterations from a deterministic seed (the first k vectors of the
    training set by vec_id — ids < k·sample_factor when the caller passes
    a vec_id % sample_factor == 0 training sample — as doubles).

    The Lloyd loop holds the k·d centroid state on the driver
    (:func:`_lloyd_rows` — the MLlib structure: centroids are driver
    state, data never moves); exact-integer sums + single divisions keep
    every centroid coordinate bit-reproducible in DuckDB."""
    return _cents_df(pts.sparkSession, _lloyd_rows(pts, k, iters, sample_factor))


@dataclass(frozen=True)
class IvfIndex:
    """A trained, materialized IVF index — build once, serve many.

    ``cents`` is the Lloyd-converged coarse quantizer (cid, c:
    array<double>), ``corpus`` the cell-assigned base data (vec_id, qv,
    nrm, cid). Both are lineage-truncated via localCheckpoint at build
    time, so serving never re-runs training (and survives a
    ``spark.catalog.clearCache()``, which only drops SQL-cache entries).
    On a cluster the same split is ``save()``/``load()`` to parquet — the
    index is a table, training is a batch job, serving is an equi-join.
    """

    cents: DataFrame
    corpus: DataFrame

    def save(self, path: str) -> None:
        """Materialize the index as two parquet tables under ``path``."""
        self.cents.write.mode("overwrite").parquet(f"{path}/cents")
        self.corpus.write.mode("overwrite").parquet(f"{path}/corpus")

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IvfIndex":
        return IvfIndex(
            cents=spark.read.parquet(f"{path}/cents"),
            corpus=spark.read.parquet(f"{path}/corpus"),
        )


def ivf_index(df: DataFrame, n: int | None = None) -> IvfIndex:
    """Train the IVF coarse quantizer and assign every corpus row to its
    cell — the expensive once-per-corpus half of IVF search.

    Centroid count 2^bits grows with log(n) (scaled_bits) so expected
    cell population stays bounded; Lloyd runs on a deterministic modulo
    sample (~IVF_TRAIN_TARGET_ROWS rows) regardless of corpus size, and
    the final assignment is a zero-shuffle Arrow map against the
    driver-held centroid matrix (:func:`_assign_cid_udf`). The corpus
    output is eagerly checkpointed, and so is the (tiny) centroid frame —
    a createDataFrame relation would otherwise re-run its driver-Python
    serialization job per serve — so ``ivf_topk`` over the returned index
    is pure serving.

    ``n`` feeds the scale knobs; pass it explicitly for derived frames —
    the ``df.count()`` fallback is metadata-only on a parquet scan but a
    full job on a computed input.
    """
    from filesql_spark.pipeline.constants import scaled_bits

    n = df.count() if n is None else n
    kk = 1 << scaled_bits(n, IVF_MIN_K_BITS, IVF_MAX_K_BITS, IVF_TARGET_CELL_ROWS)
    m = 1 << scaled_bits(n, 0, IVF_MAX_TRAIN_BITS, IVF_TRAIN_TARGET_ROWS)
    pts = with_quantized(df).select("vec_id", "qv", "nrm")
    # persist: read by the seed collect, 3 Lloyd iterations + the final
    # assignment
    pts = pts.persist()
    train = pts.filter(F.col("vec_id") % m == 0)
    rows = _lloyd_rows(train, kk, sample_factor=m)
    # final assignment: a pure map over the corpus (closure-held
    # centroids), zero joins/shuffles — at 100 TB the corpus crosses the
    # Python boundary once (qv only), never fanned k× (r18)
    corpus = (
        pts.withColumn("cid", _assign_cid_udf(rows)(F.col("qv")))
        .select("vec_id", "qv", "nrm", "cid")
        .localCheckpoint(eager=True)
    )
    pts.unpersist()
    # The cents frame must be materialized too: a createDataFrame local
    # relation executes as applySchemaToPythonRDD — a driver-Python
    # serialization job that re-runs on EVERY serve execution (measured
    # ~+0.3 s per ivf_topk at sf0.1). One eager localCheckpoint at build
    # time (k ≤ 1024 rows) makes serving scan a materialized RDD, the
    # same serve shape the pre-r18 build had.
    cents = _cents_df(df.sparkSession, rows).localCheckpoint(eager=True)
    return IvfIndex(cents=cents, corpus=corpus)


def ivf_serve(index: IvfIndex, queries: DataFrame, k: int = 5) -> DataFrame:
    """Serve top-k from a trained index: probe the ``IVF_NPROBE`` nearest
    cells per query, exact quantized cosine inside them.

    The candidate set per query is ~IVF_NPROBE · n / cells rows reached
    by one broadcast of the (small) probe set against the cell-keyed
    corpus — an equi-join on cid, never a cross product over the corpus.
    """
    cents, corpus = index.cents, index.corpus
    # query probes: nprobe nearest cells per query — the probe set is tiny
    # (|queries|·k rows), so a window rank over the broadcast product is fine
    q = with_quantized(queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    dq = _sqdist(F.col("q_qv"), F.col("c"))
    w_probe = Window.partitionBy("q_id").orderBy(dq.asc(), F.col("cid").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("q_id", "q_qv", "q_nrm", "cid")
    )
    cos = cosine_pre(F.col("q_qv"), F.col("q_nrm"), F.col("qv"), F.col("nrm"))
    scored = (
        F.broadcast(probes)
        .join(corpus, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
    )
    w_top = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cos")
    )


def ivf_topk(
    df: DataFrame | IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n: int | None = None,
) -> DataFrame:
    """IVF approximate top-k. Accepts either a raw corpus DataFrame
    (trains an index inline — the self-contained oracle-checked path) or
    a pre-built :class:`IvfIndex` (pure serving — what a deployment does:
    train once with :func:`ivf_index`, serve many)."""
    index = df if isinstance(df, IvfIndex) else ivf_index(df, n=n)
    return ivf_serve(index, queries, k=k)


def label_centroids(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid of an embedding column — the class-prototype /
    cluster-summary statistic (e.g. seeding nearest-class-mean
    classifiers, drift dashboards, IVF warm starts).

    Output: one row per (label, pos) with the centroid coordinate and the
    label's vector count — exploded scalar rows, not an array column, so
    downstream SQL (and the DuckDB oracle) can compare values directly.

    Determinism: vectors are quantized to int64 (×1e4) BEFORE summing, so
    the per-coordinate sum is order-independent exact integer math; the
    mean is two chained IEEE divisions (sum/1e4/n) — identical on any
    partitioning and in the oracle. Scale: posexplode fans each vector
    into dim rows map-side, then one hash-shuffle on (label, pos) with
    map-side partial sums — group cardinality is labels × dim, tiny.
    """
    from filesql_spark.pipeline.dedup import quantize

    exploded = df.select(
        "label", F.posexplode(quantize(F.col(vec_col))).alias("pos", "q")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.sum("q").alias("sq"), F.count("*").alias("n_vecs"))
        .select(
            "label",
            "pos",
            (F.col("sq").cast("double") / 10000.0 / F.col("n_vecs")).alias("mean_val"),
            "n_vecs",
        )
    )


# ------------------------------------------------------ product quantization

PQ_M = 4  # subspaces (64 dims → 4 × 16)
PQ_K = 16  # codewords per subspace → 4 bits/code, 2 bytes/vector
PQ_ITERS = 1  # Lloyd rounds per sub-codebook (deterministic lowest-id init)


def pq_fit(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dims: int = 64,
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train the product-quantization codebooks: split each vector into
    ``m`` contiguous subvectors and run the exact-integer Lloyd loop
    independently per subspace (pipeline/clustering.py kmeans_fit —
    deterministic lowest-id init, FLOOR((2Σ+n)/2n) centroid rounding).

    Returns ``m`` codebooks of ``k`` integer subvectors. PQ is the
    memory-compression half of large-scale ANN: a 64-dim float32 vector
    (256 B) compresses to m log2(k) bits (2 B here) while distances stay
    computable from per-query lookup tables — the standard IVF+PQ combo
    serves billion-vector indexes from RAM this way.

    All ``m`` sub-codebooks train from ONE corpus pass per iteration
    (r18): each row emits its m (subspace, nearest-codeword, subvector)
    structs in a single generator projection and one map-combined
    groupBy aggregates every (subspace, cell) together — previously each
    subspace ran its own ``kmeans_fit`` with its own quantize, seed scan
    and per-iteration scan+shuffle, i.e. m×(iters+1) corpus passes
    instead of (iters+1). The arithmetic is unchanged and exact:
    identical quantized slices (quantize is elementwise, so
    slice∘quantize = quantize∘slice), the identical literal-codeword
    argmin with ties to the lowest codeword id, identical integer
    dimension sums and FLOOR((2Σ+n)/(2n)) rounding — so the books are
    bit-identical to the per-subspace loop and to the unrolled DuckDB
    oracle.
    """
    from filesql_spark.pipeline._persist import swap_persist
    from filesql_spark.pipeline.clustering import _round_half_up_mean
    from filesql_spark.pipeline.dedup import quantize

    sub_d = dims // m
    q = swap_persist(
        "pq_fit.q", df.select("vec_id", quantize(F.col(vec_col)).alias("qv"))
    )
    seed = q.orderBy("vec_id").limit(k).select("qv").collect()
    books = [
        [list(r.qv[mi * sub_d : (mi + 1) * sub_d]) for r in seed]
        for mi in range(m)
    ]
    if not seed:  # no rows: m empty codebooks
        return books
    sum_exprs = [F.expr("count(1) AS _n")] + [
        F.expr(f"sum(sv[{i}]) AS _s{i}") for i in range(sub_d)
    ]
    for _ in range(iters):
        structs = [
            (
                lambda d: f"struct({mi} AS mi, "
                f"CAST(array_position({d}, array_min({d})) - 1 AS INT) AS cluster, "
                f"slice(qv, {mi * sub_d + 1}, {sub_d}) AS sv)"
            )(_sub_dists_expr(book, mi * sub_d, sub_d))
            for mi, book in enumerate(books)
        ]
        exploded = q.select(
            F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("e")
        ).select("e.*")
        stats = exploded.groupBy("mi", "cluster").agg(*sum_exprs).collect()
        upd = {
            (row["mi"], row["cluster"]): [
                _round_half_up_mean(row[f"_s{i}"], row["_n"])
                for i in range(sub_d)
            ]
            for row in stats
        }
        # the seed holds fewer than k codewords on a corpus under k rows
        books = [
            [upd.get((mi, c), books[mi][c]) for c in range(len(books[mi]))]
            for mi in range(m)
        ]
    return books


def _sub_dists_expr(book: list[list[int]], start: int, sub_d: int) -> str:
    """SQL expr: array of squared-L2 distances from qv's [start, start+sub_d)
    slice to each codeword of one codebook (exact int64)."""
    from filesql_spark.pipeline.clustering import _centroid_literal_sql

    lit = _centroid_literal_sql(book)
    return (
        f"transform({lit}, c -> aggregate(zip_with(slice(qv, {start + 1}, {sub_d}),"
        " c, (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v))"
    )


def pq_encode(
    df: DataFrame,
    books: list[list[list[int]]],
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code_0 … code_{m-1}): nearest codeword per subspace.

    One zero-shuffle projection over literal codebooks (same
    literal-centroid map as assign_clusters): the 100-TB corpus encodes
    at scan speed and the output is the 2-byte-per-vector code table a
    deployment persists instead of raw vectors. Ties go to the lowest
    codeword id (array_position finds the first minimum)."""
    from filesql_spark.pipeline.dedup import quantize

    sub_d = dims // len(books)
    exprs = ["vec_id"]
    for mi, book in enumerate(books):
        d = _sub_dists_expr(book, mi * sub_d, sub_d)
        exprs.append(
            f"CAST(array_position({d}, array_min({d})) - 1 AS INT) AS code_{mi}"
        )
    return df.select(
        "vec_id", quantize(F.col(vec_col)).alias("qv")
    ).selectExpr(*exprs)


def pq_topk(
    df: DataFrame,
    books: list[list[list[int]]],
    k: int = 10,
    n_queries: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table of exact squared distances from the query subvector to
    every codeword; per candidate, the approximate distance is m table
    lookups summed — no vector math against the corpus at all.

    Scale shape: the LUTs are built on the (tiny) query side and
    broadcast with it; the corpus side reads only its code columns
    (2 B/vector), computes the sum-of-lookups as a pure column
    expression, and pays one shuffle for the per-query top-k window
    (partitioned by query). Every distance is exact int64, so ranking —
    ties broken by vec_id — is engine-identical and the unrolled-Lloyd
    DuckDB oracle reproduces it bit-for-bit.

    Output: (q_id, rank, vec_id, approx_d), rank ≤ k, self-match excluded.
    """
    from filesql_spark.pipeline.dedup import quantize

    sub_d = dims // len(books)
    codes = pq_encode(df, books, dims, vec_col)
    q = df.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), quantize(F.col(vec_col)).alias("qv")
    )
    lut_exprs = ["q_id"] + [
        f"{_sub_dists_expr(book, mi * sub_d, sub_d)} AS lut_{mi}"
        for mi, book in enumerate(books)
    ]
    luts = q.selectExpr(*lut_exprs)
    approx = " + ".join(
        f"element_at(lut_{mi}, code_{mi} + 1)" for mi in range(len(books))
    )
    scored = (
        codes.join(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id", f"CAST({approx} AS BIGINT) AS approx_d")
    )
    w = Window.partitionBy("q_id").orderBy("approx_d", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "approx_d")
    )


def pq_topk_rerank(
    df: DataFrame,
    books: list[list[list[int]]],
    k: int = 10,
    shortlist: int = 200,
    n_queries: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ shortlist + exact rerank — the production two-stage ANN serve
    path: the cheap ADC scan (2-byte codes, table lookups) shortlists
    ``shortlist`` candidates per query, then ONLY those pay the exact
    64-dim distance. Measured on the driver embeddings at sf0.01:
    ADC-only top-10 recall vs exact L2 is 0.29 (synthetic near-random
    vectors quantize poorly — no low-dim structure for the codebooks to
    exploit), but 0.975 of the true top-10 survive into a 200-deep
    shortlist, so the reranked output is near-exact at ~1/25th of the
    exact scan's vector math. Deterministic end to end: ADC and exact
    distances are both int64, ties break by vec_id at both stages.

    Output: (q_id, rank, vec_id, d) with the EXACT quantized squared-L2
    distance, rank ≤ k.
    """
    from filesql_spark.pipeline.dedup import quantize

    cand = pq_topk(df, books, k=shortlist, n_queries=n_queries, dims=dims,
                   vec_col=vec_col).select("q_id", "vec_id")
    qv = df.select("vec_id", quantize(F.col(vec_col)).alias("qv"))
    qs = df.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), quantize(F.col(vec_col)).alias("qq")
    )
    d = F.expr("aggregate(zip_with(qq, qv, (x, y) -> (x - y) * (x - y)),"
               " 0L, (a, v) -> a + v)")
    scored = (
        cand.join(qv, "vec_id")
        .join(F.broadcast(qs), "q_id")
        .select("q_id", "vec_id", d.alias("d"))
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "d")
    )


def standardize(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Per-dimension whitening (z-score) of an embedding column — the
    standard preprocessing before PCA/clustering/quantization so no
    dimension dominates by scale.

    100-TB design: per-dim moments come from ONE global aggregate with
    2·d+1 map-side-combining sum expressions over the ×10⁴-quantized
    integer vectors — no explode (which would shuffle n·d rows), no
    second pass. The one-row stats relation is cross-joined back
    broadcast, and the z-transform is a pure array expression at scan
    speed.

    Determinism: Σq and Σq² are exact integers, so mean, E[x²],
    var = E[x²] − mean², and sd = sqrt(var) are fixed IEEE op sequences
    on exact operands (sqrt is correctly rounded by IEEE-754, so both
    engines agree bit-for-bit); z is rounded to 6 only to absorb the
    final division's representation at the hash boundary.

    ``dim`` defaults to probing one row (embeddings are fixed-width by
    contract; pass it explicitly in pipelines to keep the plan
    action-free).
    """
    from filesql_spark.pipeline.dedup import quantize

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    qdf = df.withColumn("qv", quantize(F.col(vec_col)))
    # the 2·d+1 aggregates and the two d-element moment arrays are built
    # as expression STRINGS (a handful of py4j calls) instead of ~600
    # composed Column objects, which cost 1.8 s of driver-side plan
    # construction per invocation (r9, same pathology as simhash); the
    # parsed expressions — and every IEEE op sequence — are identical
    aggs = [F.expr("count(1) AS n")] + [
        F.expr(e)
        for i in range(dim)
        for e in (f"sum(qv[{i}]) AS s{i}", f"sum(qv[{i}] * qv[{i}]) AS sq{i}")
    ]
    stats = qdf.agg(*aggs)
    mean_i = "CAST(s{i} AS DOUBLE) / CAST(n AS DOUBLE)"
    means = "array(" + ", ".join(mean_i.format(i=i) for i in range(dim)) + ")"
    sd_i = (
        "sqrt(CAST(sq{i} AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (" + mean_i + ") * (" + mean_i + "))"
    )
    sds = "array(" + ", ".join(sd_i.format(i=i) for i in range(dim)) + ")"
    moments = stats.select(
        F.expr(means).alias("means"), F.expr(sds).alias("sds")
    )
    z = F.transform(
        F.col("qv"),
        lambda x, i: F.when(
            F.element_at(F.col("sds"), i + 1) > 0.0,
            F.round(
                (x.cast("double") - F.element_at(F.col("means"), i + 1))
                / F.element_at(F.col("sds"), i + 1),
                6,
            ),
        ).otherwise(0.0),
    )
    return (
        qdf.crossJoin(F.broadcast(moments))
        .select("vec_id", "label", z.alias("zvec"))
    )


def knn_label(df: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """k-NN label vote: classify each query vector by the majority label
    among its k exact-cosine nearest corpus neighbors — the
    label-propagation step a curation pipeline uses to extend a small
    labeled seed set (e.g. a hand-rated quality sample) over the whole
    corpus.

    This entry serves the exact path for oracle parity
    (``brute_force_topk``); at 100 TB the neighbor list comes from the
    IVF/LSH shortlist (``ivf_serve``/``lsh_topk``) instead — the voting
    tail is identical. The (q·k)-row neighbor relation is broadcast into
    the label lookup, so the corpus-sized side never shuffles; votes
    tie-break (count desc, label asc) for determinism.
    """
    topk = brute_force_topk(df, queries, k)
    labels = df.select("vec_id", "label")
    votes = (
        labels.join(F.broadcast(topk), "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("label"))
    picked = (
        votes.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col("label").alias("predicted_label"), "votes")
    )
    truth = queries.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    return picked.join(F.broadcast(truth), "q_id").select(
        "q_id", "predicted_label", "votes", "true_label"
    )


def centroid_outliers(df: DataFrame, k: int = 3, dim: int | None = None) -> DataFrame:
    """Per-label embedding outliers: the k vectors farthest from their
    label's centroid — the mis-embedded / mislabeled-row gate a curation
    pipeline runs over labeled embedding sets.

    Exactness: with per-label counts n and integer centroid NUMERATORS
    s_i (the quantized coordinate sums), n²·dist² = Σ_i (q_i·n − s_i)²
    is an exact integer — no float centroid ever materializes, so the
    ranking is bit-deterministic. The reported distance divides once at
    the end. Overflow bound: |q_i·n| ≤ 2¹⁵·n keeps the square inside
    int64 for n ≲ 3·10⁵ rows per label; beyond that switch the ranking
    to double (monotonicity is preserved far before the square wraps).

    Scale: the centroid sums come from one groupBy(label) with d
    map-side-combining sum expressions (same shape as ``standardize`` —
    never a collect_list of group members); the d-wide sum rows
    broadcast back, and the per-label top-k is a window — no pairwise
    joins anywhere. ``dim`` defaults to probing one row.
    """
    from filesql_spark.pipeline.dedup import quantize

    if dim is None:
        dim = len(df.select("embedding").first()[0])
    q = df.select("vec_id", "label", quantize(F.col("embedding")).alias("qv"))
    cents = q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
            for i in range(dim)
        ],
    ).select(
        "label", "n", F.array(*[F.col(f"s{i}") for i in range(dim)]).alias("s")
    )
    joined = q.join(F.broadcast(cents), "label")
    dist2n2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("s"),
            lambda qi, si: (qi * F.col("n") - si) * (qi * F.col("n") - si),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("label").orderBy(F.col("d2n2").desc(), F.col("vec_id"))
    return (
        joined.select("vec_id", "label", "n", dist2n2.alias("d2n2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "label",
            "rank",
            (
                F.col("d2n2").cast("double")
                / (F.col("n") * F.col("n")).cast("double")
            ).alias("dist2"),
        )
    )
