"""Product quantization (PQ) for approximate nearest neighbor search.

The missing compression leg of the ANN family (Jégou, Douze, Schmid
2011, "Product Quantization for Nearest Neighbor Search"): split each
``dim``-dimensional embedding into ``n_sub`` subspaces, quantize every
subspace to its nearest codebook entry, and serve queries with
asymmetric distance computation (ADC) — per corpus vector the query
cost is ``n_sub`` table lookups instead of ``dim`` multiplies, and the
stored corpus is ``n_sub`` bytes per vector instead of ``4 * dim``
(32x at the 64-dim / 8-subspace / 256-code default geometry).

At 100 TB this is the layout that makes exhaustive re-ranking feasible:
IVF cells bound WHICH vectors a query meets
(:mod:`~metalpipe_spark.operators.similarity`), PQ bounds what each
meeting COSTS — the classic IVFADC composition.  Here each piece is a
standalone DataFrame operator so either can be used alone.

Same oracle discipline as the IVF serving path
(catalog/similarity.py:_ivf_oracle): codebooks are deterministic plan
LITERALS, every score is the house left-associated double fold, and
ranking happens over ``round(x, 6)`` — so the entire encode → ADC →
top-k path replays exactly in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metalpipe_spark.operators.similarity import _array_lit


def deterministic_pq_codebooks(
    n_sub: int, n_codes: int, dim: int
) -> list[list[list[float]]]:
    """Fixed pseudo-random PQ codebooks — ``[sub][code]`` is a
    ``dim // n_sub``-length vector in (-1, 1) from the same LCG family
    as ``deterministic_centroids`` (its own stream constant).  Plan
    literals: the identical matrix inlines into the Spark plan and the
    SQL oracle (21-mantissa-bit doubles, exact repr round-trip).  A
    production deployment would k-means each subspace on a sample
    instead — the serving path below is unchanged; only the literal
    matrix differs (the same learned-vs-literal split as IVF)."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    state = 0xC2B2AE3D27D4EB4F  # distinct stream from centroids/planes
    books: list[list[list[float]]] = []
    for _ in range(n_sub):
        book = []
        for _ in range(n_codes):
            row = []
            for _ in range(d_sub):
                state = (state * 6364136223846793005 + 1442695040888963407) % (
                    1 << 64
                )
                row.append(((state >> 43) / float(1 << 20)) - 1.0)
            book.append(row)
        books.append(book)
    return books


def _sub_slice(vec_col: str, sub: int, d_sub: int) -> Column:
    return F.slice(F.col(vec_col), sub * d_sub + 1, d_sub)


def _fold_dot(sub_vec: Column, lit_vec: Column) -> Column:
    """House left-associated double fold of slice · literal — the exact
    order DuckDB's ``list_reduce`` replays."""
    return F.aggregate(
        F.zip_with(sub_vec, lit_vec, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _book_lit(book: list[list[float]]) -> Column:
    """One codebook as a literal ``array<struct<cn2, cv>>`` — a SINGLE
    expression per subspace instead of ``n_codes`` separate fold trees.
    The expression-tree size is what this buys: 128 independent
    aggregate() trees measured seconds of plan compile + interpret
    setup per session; one transform over a literal array does the
    identical arithmetic (same doubles, same fold order) in 1/16th the
    plan."""
    entries = ", ".join(
        f"named_struct('cn2', {float(sum(x * x for x in c))!r}D, 'cv', {_array_lit(c)})"
        for c in book
    )
    return F.expr(f"array({entries})")


def _sub_scored(sv: Column, book: list[list[float]]) -> Column:
    """``(s, c)`` structs for one subspace: ``s = |c|² − 2·v_sub·c``
    (monotone in ``||v_sub − c||`` — the ``|v_sub|²`` term is constant
    across codes, so the argmin and every ADC RANKING are unchanged by
    dropping it), ``c`` = the code index from transform's index
    binding."""
    return F.transform(
        _book_lit(book),
        lambda cb, i: F.struct(
            (cb["cn2"] - F.lit(2.0) * _fold_dot(sv, cb["cv"])).alias("s"),
            i.alias("c"),
        ),
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Quantize ``vec_col`` into PQ codes — adds ``out_col`` as
    ``array<int>`` of length ``n_sub`` (code ``s`` = the argmin codebook
    entry for subspace ``s``, ascending-code tie-break).

    Pure map-side codegen: codebooks inline as literals and each
    subspace argmin is an ``array_sort`` over (score, code) structs
    (the ``_probe_cells`` idiom) — no shuffle, so encoding a 100 TB
    corpus is a scan that writes ``n_sub`` bytes of codes per vector."""
    d_sub = len(codebooks[0][0])
    # Pre-project the subspace slices once per row: a slice referenced
    # inside the transform lambda would re-evaluate per CODE (the
    # conventions-memo HOF trap); a bound column attribute is free.
    slices = {
        f"__pq_sub_{s}": _sub_slice(vec_col, s, d_sub)
        for s in range(len(codebooks))
    }
    pre = df.withColumns(slices)
    per_sub = [
        F.element_at(
            F.array_sort(_sub_scored(F.col(f"__pq_sub_{s}"), book)), 1
        )["c"]
        for s, book in enumerate(codebooks)
    ]
    return pre.withColumn(out_col, F.array(*per_sub)).drop(*slices)


def pq_encode_gemm(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """BLAS twin of :func:`pq_encode` (the house GEMM-twin pattern):
    one ``mapInPandas`` batch computes every subspace's full score
    matrix as ``-2 · V_s @ C_sᵀ + |c|²`` in numpy and argmins along the
    code axis — identical codes on the test fixtures (equality-tested),
    ~dim-fold fewer interpreted operations per row.  Production default
    for bulk encoding; the fold form remains the SQL-replayable
    anchor."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructType

    d_sub = len(codebooks[0][0])
    n_sub = len(codebooks)
    mats = [np.asarray(book, dtype=np.float64) for book in codebooks]
    norms = [(m * m).sum(axis=1) for m in mats]
    # Fresh StructType: StructType.add mutates in place, and appending
    # to df.schema itself would corrupt the input plan's schema object.
    schema = StructType(list(df.schema.fields)).add(
        out_col, ArrayType(IntegerType()), False
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                out = pdf.copy()
                out[out_col] = [[] for _ in range(len(out))]
                yield out
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(pdf), n_sub), dtype=np.int32)
            for s in range(n_sub):
                Vs = V[:, s * d_sub : (s + 1) * d_sub]
                scores = norms[s][None, :] - 2.0 * (Vs @ mats[s].T)
                codes[:, s] = scores.argmin(axis=1)
            out = pdf.copy()
            out[out_col] = list(codes)
            yield out

    return df.mapInPandas(encode, schema)


def pq_query_luts(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "lut",
) -> DataFrame:
    """Per-query ADC lookup tables — adds ``out_col`` as
    ``array<array<double>>`` (``lut[s][c]`` = ``|c|² − 2·q_s·c``), the
    table ADC sums over instead of touching raw corpus vectors.  Cost
    is per QUERY (``n_sub × n_codes`` folds), never per corpus row."""
    d_sub = len(codebooks[0][0])
    slices = {
        f"__pq_sub_{s}": _sub_slice(vec_col, s, d_sub)
        for s in range(len(codebooks))
    }
    pre = queries.withColumns(slices)

    # Closure factory, NEVER a default arg: PySpark binds every lambda
    # parameter to a Column, so `lambda cb, sv=...` would silently
    # receive the transform INDEX as sv.
    def lut_fn(sv):
        return lambda cb: cb["cn2"] - F.lit(2.0) * _fold_dot(sv, cb["cv"])

    luts = F.array(
        *[
            F.transform(_book_lit(book), lut_fn(F.col(f"__pq_sub_{s}")))
            for s, book in enumerate(codebooks)
        ]
    )
    return pre.withColumn(out_col, luts).drop(*slices)


def _adc_topk_tail(
    pairs: DataFrame, codes_col: str, id_col: str, query_id_col: str, k: int
) -> DataFrame:
    """The shared ADC pricing + ranking tail of every PQ serving path
    (brute ADC and IVFADC): subspace-ordered left fold of LUT lookups
    over the codes, one per-query top-k window over ``round(d, 6)``
    with ascending-id tie-break — ONE implementation so the quantized
    rank contract the DuckDB oracles replay can never desynchronize
    between the two paths."""
    from pyspark.sql.window import Window

    dist = F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.col("lut"),
            lambda code, row: F.element_at(row, code.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round(dist, 6).asc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk")
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k: each query's LUT broadcasts, the
    distance per (query, corpus vector) is an ``n_sub``-lookup fold
    over the codes — NEVER a ``dim``-wide dot against the raw vector —
    and one window takes the top ``k`` per query over the quantized
    distance (``round(d, 6)`` asc, id asc).  Returns
    ``(query_id, id_col, rnk)``.

    Scale shape: the corpus side streams its (id, codes) pairs — 8
    bytes of codes per vector at the default geometry — through a
    broadcast of the query LUTs; no shuffle until the final top-k
    window, which partitions by query.  The fold is left-associated in
    subspace order, so the DuckDB oracle (grouped ``list(d2 ORDER BY
    sub)`` + ``list_reduce``) reproduces every distance bit-for-bit."""
    luts = pq_query_luts(queries, codebooks, vec_col=vec_col).select(
        query_id_col, "lut"
    )
    pairs = encoded.select(id_col, codes_col).crossJoin(F.broadcast(luts))
    return _adc_topk_tail(pairs, codes_col, id_col, query_id_col, k)


def ivfadc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    cell_col: str = "cell",
) -> DataFrame:
    """IVFADC — the classic large-scale ANN serving stack (Jégou et al.
    2011 §IV): IVF cells bound WHICH candidates a query meets
    (multi-probe over literal centroids), PQ codes bound what each
    meeting COSTS (``n_sub`` LUT lookups).  ``encoded`` must carry both
    a ``cell_col`` (from ``ivf_assign_literal``) and a ``codes_col``
    (from :func:`pq_encode`) — at 100 TB that is the stored index: the
    corpus written partitioned by cell with 8-byte codes, raw vectors
    not touched at serve time.

    Plan shape: queries (small by definition) pick their ``n_probe``
    cells map-side, join their LUTs, and BROADCAST; the corpus side is
    one scan of (cell, id, codes) probed by cell — the only shuffle is
    the final per-query top-k window.  Distance is the same
    left-associated subspace fold as :func:`pq_adc_topk`, ranked over
    ``round(d, 6)`` with ascending-id tie-break, so the whole path
    replays in SQL (catalog ``q_ann_ivfadc``)."""
    from metalpipe_spark.operators.similarity import _probe_cells

    luts = pq_query_luts(queries, codebooks, vec_col=vec_col)
    qprobe = luts.withColumn(
        "_vd", F.col(vec_col).cast("array<double>")
    ).select(
        query_id_col,
        "lut",
        F.explode(_probe_cells(centroids, n_probe)).alias(cell_col),
    )
    pairs = encoded.select(cell_col, id_col, codes_col).join(
        F.broadcast(qprobe), cell_col
    )
    return _adc_topk_tail(pairs, codes_col, id_col, query_id_col, k)


def adc_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist — the second stage of the
    standard IVFADC serving recipe (Jégou et al. 2011 §V.C: quantized
    codes SHORTLIST, raw vectors re-rank).  Takes the ``(query_id, id)``
    pairs a :func:`pq_adc_topk` / :func:`ivfadc_topk` pass kept, fetches
    raw vectors for those rows ONLY, and ranks by exact squared L2
    distance (``round(d2, 6)`` asc, id asc — the same rank contract as
    the ADC stage, so the whole two-stage path replays in SQL).

    Why it exists, measured: at sf1 the 8-byte codes hold recall@10 ≥
    0.92 but recall@1 ≈ 0.3 — quantization cannot separate a clone
    family's members, but it reliably puts the true neighbor IN the
    shortlist; the exact re-rank recovers recall@1 ≥ 0.9 for the cost
    of ``queries × shortlist`` distance folds (SCALING.md r10).

    Plan shape at 100 TB: the shortlist is queries × R rows — tiny by
    construction — so it BROADCASTS into the corpus scan (the raw-vector
    fetch is a broadcast-semi-shaped probe, never a corpus shuffle); the
    query vectors broadcast too, and the only shuffle is the final
    per-query top-k window."""
    from pyspark.sql.window import Window

    cand = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__c")
    ).join(F.broadcast(shortlist.select(query_id_col, id_col).distinct()), id_col)
    qv = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__q")
    )
    # Squared-diff left fold — elementwise (x-y)*(x-y), acc starts 0.0:
    # IEEE-identical to the DuckDB oracle's list_reduce replay.
    d2 = F.aggregate(
        F.zip_with(F.col("__c"), F.col("__q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round(d2, 6).asc(), F.col(id_col).asc()
    )
    return (
        cand.join(F.broadcast(qv), query_id_col)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk")
    )


def build_pq_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    use_gemm: bool = True,
) -> None:
    """Materialize the IVFADC index on storage: ``(id, codes)`` written
    ``partitionBy(cell)`` — a probe touches only its cells' files and
    reads 8-byte codes, never raw vectors — plus the centroid and
    codebook tables.  Build once (bulk encode via the BLAS twin by
    default), serve many; the artifact is the entire serving state, so
    a fresh session needs no k-means fit and no re-encode."""
    from metalpipe_spark.operators.similarity import ivf_assign_literal

    spark = df.sparkSession
    assigned = ivf_assign_literal(df, centroids, vec_col=vec_col)
    encode = pq_encode_gemm if use_gemm else pq_encode
    enc = encode(
        assigned.select("cell", id_col, vec_col), codebooks, vec_col=vec_col
    )
    (
        enc.select(F.col(id_col), F.col("codes"), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, code, vec)
            for s, book in enumerate(codebooks)
            for code, vec in enumerate(book)
        ],
        "sub int, code int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_index(
    spark, path: str
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Reload a :func:`build_pq_index` artifact: (encoded corpus,
    centroids, codebooks).  The centroid/codebook tables are tiny
    (k + n_sub*n_codes rows) — the one driver-side fetch a serving
    session pays once; the codes table stays distributed."""
    enc = spark.read.parquet(f"{path}/codes")
    cents = [
        [float(x) for x in r["centroid"]]
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    ]
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").collect()
    n_sub = max(r["sub"] for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in rows:
        books[r["sub"]].append([float(x) for x in r["cv"]])
    return enc, cents, books


def train_pq_codebooks(
    df: DataFrame,
    n_sub: int,
    n_codes: int,
    dim: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """LEARNED PQ codebooks: per-subspace distributed k-means
    (pyspark.ml) over the corpus — the training-time complement of
    :func:`deterministic_pq_codebooks`, the same learned/literal split
    as ``ivf_assign`` vs ``ivf_assign_literal``.  Returns the
    ``[sub][code][d_sub]`` matrix the unchanged serving path
    (:func:`pq_encode` / :func:`pq_adc_topk` / :func:`ivfadc_topk`)
    inlines as literals; like every learned artifact it is
    deterministic for a fixed seed + data but not SQL-replayable, so
    its correctness evidence is the quantization-error test (learned
    books must beat the deterministic ones on the corpus they were fit
    to), not an oracle row.

    At 100 TB: fit on a SAMPLE (``sample_fraction``), broadcast the
    codebook literals, encode the full corpus with the BLAS twin — the
    k-means never sees the whole corpus, the encoder never shuffles."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    src = df
    if sample_fraction is not None:
        src = df.sample(fraction=sample_fraction, seed=seed)
    arr = F.col(vec_col).cast("array<double>")
    books: list[list[list[float]]] = []
    for s in range(n_sub):
        sub = src.select(
            array_to_vector(F.slice(arr, s * d_sub + 1, d_sub)).alias("__v")
        )
        model = KMeans(
            k=n_codes, seed=seed + s, maxIter=max_iter, featuresCol="__v"
        ).fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """SCALAR quantization — the other standard ANN compression leg
    (PQ's simpler sibling, the faiss ``SQ8`` layout): every vector
    element maps to ``bits``-bit integer codes on a shared affine grid,
    4x smaller than float32 at ``bits=8`` with no codebook to train.

    ``codes[i] = clamp(floor((v[i] - lo) * scale + 0.5), 0, 2^bits-1)``
    with ``scale = (2^bits - 1) / (hi - lo)``; half-up via ``floor(x +
    0.5)`` because engines disagree on ``round``'s tie rule but not on
    ``floor``.  ``lo``/``hi`` default to the corpus-wide element
    min/max (one column-pruned aggregation — aggregate-output-class
    collect), and ride along as literal ``q_lo``/``q_hi``/``q_bits``
    geometry columns so :func:`dequantize_embeddings` always decodes
    with the quantizer's own grid (the sketch-geometry marker rule —
    a mismatched decode is impossible by construction).

    Pure codegen ``transform`` over the array — no Python, no shuffle
    beyond the optional min/max pass; a degenerate range (``hi == lo``)
    yields all-zero codes rather than a divide-by-zero."""
    if bits < 1 or bits > 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    if lo is None:
        row = df.agg(
            F.min(F.array_min(F.col(vec_col).cast("array<double>"))).alias("lo"),
            F.max(F.array_max(F.col(vec_col).cast("array<double>"))).alias("hi"),
        ).first()
        lo, hi = float(row["lo"]), float(row["hi"])
    if hi < lo:
        raise ValueError(f"hi ({hi}) < lo ({lo})")
    levels = (1 << bits) - 1
    scale = float(levels) / (hi - lo) if hi > lo else 0.0
    # NULL elements propagate as NULL codes: Spark's least/greatest
    # SKIP null arguments, so without the guard a NULL element would
    # silently encode as the MAX code (fabricated data in the index).
    codes = F.transform(
        F.col(vec_col),
        lambda v: F.when(
            v.isNull(), F.lit(None).cast("int")
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(levels),
                    F.floor(
                        (v.cast("double") - F.lit(lo)) * F.lit(scale)
                        + F.lit(0.5)
                    ).cast("int"),
                ),
            )
        ),
    )
    return df.withColumn("codes", codes).withColumn(
        "q_lo", F.lit(lo)
    ).withColumn("q_hi", F.lit(hi)).withColumn("q_bits", F.lit(bits))


def dequantize_embeddings(
    qdf: DataFrame, out_col: str = "dequantized"
) -> DataFrame:
    """Decode scalar-quantized codes back to doubles on the grid the
    quantizer stamped into the frame: ``v̂[i] = lo + codes[i] * (hi -
    lo) / (2^bits - 1)``.  Geometry is READ FROM THE COLUMNS, never
    passed — the marker rule."""
    for c in ("codes", "q_lo", "q_hi", "q_bits"):
        if c not in qdf.columns:
            raise ValueError(
                f"dequantize_embeddings: missing column {c!r} (expected a"
                " quantize_embeddings output)"
            )
    # shiftleft's bit count must be a literal in the PySpark API; the
    # SQL form takes a column.
    step = (F.col("q_hi") - F.col("q_lo")) / F.expr(
        "cast(shiftleft(1, q_bits) - 1 as double)"
    )
    return qdf.withColumn(
        out_col,
        F.transform(
            F.col("codes"),
            lambda c: F.col("q_lo") + c.cast("double") * step,
        ),
    )
