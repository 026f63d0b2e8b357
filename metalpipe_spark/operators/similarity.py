"""Similarity search over embedding columns (BASELINE.json north star).

Two tiers:
  * brute-force cosine top-k — exact baseline; a single scan with a
    per-row array reduction, then a top-k (no full sort: Spark's
    ``orderBy().limit(k)`` takes partial top-k per partition).
  * LSH-bucketed ANN (random-hyperplane signatures) — candidates meet
    through shared sign-pattern buckets, the scale path when the corpus
    no longer fits a single scan per query batch.

Arithmetic determinism: dot products and norms fold left-to-right over
the array in DOUBLE, which matches an equivalent sequential fold in the
oracle engine bit-for-bit.

Expression construction: the fixed-dimension paths emit ONE generated
SQL string per column (``F.expr``) instead of composing thousands of
Column objects — Catalyst parses a 64-term sum in microseconds, while
the equivalent py4j-call-per-node tree costs seconds of driver time and
megabytes of serialized plan.  The generated text is the same
left-associated fold, so values are unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def dot_sql(a: str, b: str, dim: int | None = None, cast: bool = True) -> str:
    """SQL text for the left-associated double fold of a·b, as a
    higher-order ``aggregate(zip_with(...))`` expression.

    Compact on purpose: a 64-term unrolled sum measured ~10 s of janino
    whole-stage-codegen compile time PER QUERY on local[32] (12.2 s vs
    2.5 s with codegen disabled); the HOF form generates a few lines of
    code and the per-element interpreted overhead is noise next to that.
    Values are unchanged: ``aggregate`` folds ``(0.0 + t0) + t1 + ...``
    and IEEE ``0.0 + t0 == t0``, the exact order DuckDB's
    ``list_reduce`` oracle uses.  With ``cast=False`` the operands are
    already ARRAY<DOUBLE> (pre-cast once per row).

    ``dim`` is accepted for signature stability; the fold is
    dimension-agnostic.
    """
    x = "CAST(x AS DOUBLE)" if cast else "x"
    y = "CAST(y AS DOUBLE)" if cast else "y"
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> {x} * {y}),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def _array_lit(vec: list[float]) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"


def _lit_dot_sql(a: str, vec: list[float]) -> str:
    """SQL text for a·(literal vector), same fold order (column element
    on the left of each product)."""
    return (
        f"aggregate(zip_with(`{a}`, {_array_lit(vec)},"
        " (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def plane_dot_sql(vec: str, plane: list[float], cast: bool = True) -> str:
    """SQL text for a dot product against a literal hyperplane.  For the
    ±1 planes we generate, ``x * ±1.0 == ±x`` bit-for-bit, so the HOF
    multiply-fold equals the sign-fold exactly."""
    x = "CAST(x AS DOUBLE)" if cast else "x"
    return (
        f"aggregate(zip_with(`{vec}`, {_array_lit(plane)},"
        f" (x, y) -> {x} * y),"
        " CAST(0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def norm_sql(a: str, dim: int | None = None, cast: bool = True) -> str:
    return f"SQRT({dot_sql(a, a, dim, cast=cast)})"


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-to-right double fold of a·b over Column operands.

    Used where the operands are computed expressions (not plain column
    names); fixed-dimension name-based paths use :func:`dot_sql`."""
    if dim is not None:
        terms = [
            a.getItem(i).cast("double") * b.getItem(i).cast("double")
            for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query vector ships as a plan literal (broadcast by construction);
    at 100 TB this is one scan + partial top-k per partition + a k-row
    merge on the driver side of the exchange.
    """
    q = [float(v) for v in query_vec]
    dim = len(q)
    # Query-side norm is a constant — computed here in the same
    # left-associated order the oracle folds it, then inlined.
    qn = 0.0
    for v in q:
        qn += v * v
    qn **= 0.5
    sim = F.expr(f"({_lit_dot_sql(vec_col, q)}) / ({norm_sql(vec_col, dim)} * {qn!r})")
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def brute_force_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors.

    The query set is the small side by definition — it broadcasts, so
    scoring is map-side over one corpus scan (corpus rows never shuffle
    to meet queries).  The only exchange is the per-query top-k window on
    ``query_id`` over already-scored rows; corpus-side norms are computed
    once per row before the cross join.
    """
    from pyspark.sql.window import Window

    corpus = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    qs = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("_qv"),
        norm(F.col(query_vec_col)).alias("_qn"),
    )
    scored = corpus.crossJoin(F.broadcast(qs)).withColumn(
        "cosine_sim",
        F.round(
            dot(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn")), 6
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rnk")
    )


def pairwise_topk_per_label(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 3,
    dim: int | None = None,
    max_block_size: int | None = 100_000,
    oversize: str = "salt",
    salt_parts: int = 8,
) -> DataFrame:
    """Blocked exact kNN: neighbors within the same label block (an IVF
    cell stand-in — at scale the label is a learned/hashed partition).
    Join is block-local (equi-join on the block key), never all-pairs.
    Norms are computed once per ROW before the join, so per-PAIR work is
    one dot product — at B rows per block that is B·dim versus B²·dim
    flops saved.

    Block-size guard: a block of B rows is inherently B² pairs, and a
    single hot label is one join key AQE cannot split.  With
    ``max_block_size`` set (default on), one cheap count-aggregate finds
    oversized blocks; ``oversize='raise'`` fails fast, ``oversize='salt'``
    (default) splits each hot block's probe side into ``salt_parts``
    hash-salted task groups (build side replicated per salt), turning the
    one B²-pair task into ``salt_parts`` tasks of B²/salt_parts pairs —
    results are bit-identical (every pair still meets exactly once; the
    same top-k window runs after the union).  The B² pair COUNT is the
    operator's exact-kNN contract either way; the guard bounds per-task
    memory/latency, not total work.
    """
    from pyspark.sql.window import Window

    if oversize not in ("salt", "raise"):
        raise ValueError(f"oversize must be 'salt' or 'raise', got {oversize!r}")
    if dim is not None:
        src = df.select(
            F.col(label_col),
            F.col(id_col),
            F.expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)").alias("_vd"),
        )
        vec_src = "_vd"
        nrm: Column = F.expr(norm_sql("_vd", dim, cast=False))
    else:
        src = df
        vec_src = vec_col
        nrm = norm(F.col(vec_col))
    a = src.select(
        F.col(label_col).alias("blk"),
        F.col(id_col).alias("d1"),
        F.col(vec_src).alias("v1"),
        nrm.alias("n1"),
    )
    b = src.select(
        F.col(label_col).alias("blk"),
        F.col(id_col).alias("d2"),
        F.col(vec_src).alias("v2"),
        nrm.alias("n2"),
    )
    hot_labels: list = []
    if max_block_size is not None:
        # One map-side-combined count per label; the hot list is small by
        # construction (labels above the cap), so collecting it is a
        # few-row driver fetch, not a data collect.
        # NULL labels are excluded: a NULL block key can never equi-join
        # (NULL != NULL), so it produces no pairs and is not a blowup
        # hazard — and a None inside the isin() list would poison the
        # ~isin cold-side filter into NULL for EVERY row, silently
        # emptying the cold join.
        hot_labels = [
            r[0]
            for r in src.groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block_size)
            .filter(F.col(label_col).isNotNull())
            .select(label_col)
            .collect()
        ]
        if hot_labels and oversize == "raise":
            raise ValueError(
                f"blocks over max_block_size={max_block_size}: {hot_labels[:10]} — "
                "use a finer blocking key or oversize='salt'"
            )
    if hot_labels:
        cold = a.filter(~F.col("blk").isin(hot_labels)).join(
            b.filter(~F.col("blk").isin(hot_labels)), "blk"
        )
        ah = a.filter(F.col("blk").isin(hot_labels)).withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("d1")), F.lit(salt_parts)).cast("int")
        )
        bh = b.filter(F.col("blk").isin(hot_labels)).withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_parts - 1)))
        )
        hot = ah.join(bh, ["blk", "__salt"]).drop("__salt")
        pairs = cold.unionByName(hot)
    else:
        pairs = a.join(b, "blk")
    pairs = pairs.filter(F.col("d1") != F.col("d2"))
    if dim is not None:
        pair_dot: Column = F.expr(dot_sql("v1", "v2", dim, cast=False))
    else:
        pair_dot = dot(F.col("v1"), F.col("v2"))
    scored = pairs.withColumn(
        "cosine_sim", F.round(pair_dot / (F.col("n1") * F.col("n2")), 6)
    )
    w = Window.partitionBy("d1").orderBy(F.desc("cosine_sim"), F.asc("d2"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("blk", "d1", "d2", "cosine_sim", "rnk")
    )


def pairwise_topk_per_label_gemm(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 3,
    chunk: int = 1024,
    max_block_size: int = 65_536,
) -> DataFrame:
    """Blocked exact kNN via per-cell GEMM — the vectorized twin of
    :func:`pairwise_topk_per_label`.

    Each label block arrives as ONE Arrow batch (``applyInPandas``); a
    numpy/BLAS matmul computes the block's cosine matrix in row chunks
    (memory is O(chunk × B), never B²), then a stable argsort gives
    per-row top-k with the same (desc similarity, asc neighbor id)
    tie-break.  This trades the join-per-pair plan for dense linear
    algebra inside the cell — at B rows/64 dims that is one DGEMM call
    instead of B² interpreted array folds, the shape a 100 TB ANN cell
    scan actually uses.

    Ordering contract matches :func:`pairwise_topk_per_label` exactly:
    ranks are computed over the 6-decimal-QUANTIZED similarity with an
    ascending neighbor-id tie-break (the same ``(round(sim, 6) DESC, d2
    ASC)`` order the exact twin's window uses), so the (d1, d2, rnk)
    output is engine-reproducible and oracle-hashable.  Raw similarities
    still differ from the SQL fold in the last few ulps (BLAS accumulates
    blocked/SIMD), so the emitted ``cosine_sim`` column is
    tolerance-tested rather than hash-compared.

    ``max_block_size`` guards the one scale hazard: a block must fit one
    executor's Arrow group.  Oversized blocks raise — use the exact
    twin's salt path, or a finer blocking key.
    """
    import numpy as np
    import pandas as pd

    label_type = df.schema[label_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"blk {label_type}, d1 {id_type}, d2 {id_type}, cosine_sim double, rnk int"
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        b = len(pdf)
        if b > max_block_size:
            raise ValueError(
                f"block {pdf[label_col].iloc[0]!r} has {b} rows "
                f"(max_block_size={max_block_size}); use a finer blocking key "
                "or pairwise_topk_per_label(oversize='salt')"
            )
        pdf = pdf.sort_values(id_col)  # stable argsort then breaks ties by id
        ids = pdf[id_col].to_numpy()
        V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        kk = min(k, b - 1)
        if kk <= 0:
            return pd.DataFrame(
                {c: [] for c in ("blk", "d1", "d2", "cosine_sim", "rnk")}
            )
        d1s, d2s, sims, rnks = [], [], [], []
        for lo in range(0, b, chunk):
            hi = min(lo + chunk, b)
            # Quantize BEFORE ranking: stable argsort over the rounded
            # matrix (rows sorted by id) == window over (round(sim,6)
            # DESC, d2 ASC) — the exact twin's order, ulp-insensitive.
            S = np.round((V[lo:hi] @ V.T) / np.outer(norms[lo:hi], norms), 6)
            S[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf  # no self
            top = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(lo, hi), kk)
            cols = top.ravel()
            d1s.append(ids[rows])
            d2s.append(ids[cols])
            sims.append(S[rows - lo, cols])
            rnks.append(np.tile(np.arange(1, kk + 1), hi - lo))
        return pd.DataFrame(
            {
                "blk": np.repeat(pdf[label_col].iloc[0], (b) * kk),
                "d1": np.concatenate(d1s),
                "d2": np.concatenate(d2s),
                "cosine_sim": np.concatenate(sims),
                "rnk": np.concatenate(rnks).astype("int32"),
            }
        )

    return df.groupBy(label_col).applyInPandas(per_block, schema=out_schema)


def ivf_assign(
    df: DataFrame,
    k_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    fit_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF cell assignment with LEARNED centroids: distributed k-means
    (pyspark.ml) over L2-normalized embeddings (Euclidean k-means on unit
    vectors == spherical k-means, aligning cells with COSINE
    neighborhoods); adds a ``cell`` column and returns the centroid
    matrix for multi-probe search.

    This upgrades the label-block stand-in to a real inverted-file index:
    at 100 TB you fit centroids on a sample (``fit_fraction`` — the
    k-means pass then scans fraction×corpus instead of every iteration
    touching 100 TB), broadcast them (assignment is a map-side
    nearest-centroid argmin — no shuffle), and write the corpus
    partitioned by cell.  An iterative learned artifact — not
    replayable in SQL, so IVF query surfaces are rows-only +
    recall-tested.  NOT bit-deterministic run to run: pyspark.ml's
    per-iteration cluster sums are double treeAggregates whose
    accumulation order follows task scheduling (measured: three
    same-seed fits, three distinct centroid sets — fine for top-k
    serving, where recall is insensitive to centroid jitter).  When
    the geometry itself must be reproducible/stamped (the incremental
    semantic store), use :func:`fit_semantic_cells`, whose
    DECIMAL-aggregated Lloyd iterations are order-independent.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    arr = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    )
    # zip_with against array_repeat(nrm): the norm fold evaluates ONCE
    # per row to build the repeated array.  `transform(arr, x -> x/nrm)`
    # re-evaluates the whole O(dim) fold per ELEMENT in interpreted HOF
    # mode — O(dim²) per row, the conventions-memo antipattern.
    vecs = df.withColumn(
        "__v",
        array_to_vector(
            F.zip_with(arr, F.array_repeat(nrm, F.size(arr)), lambda x, n: x / n)
        ),
    )
    fit_on = (
        vecs if fit_fraction is None else vecs.sample(fit_fraction, seed=seed)
    )
    model = KMeans(
        k=k_cells, seed=seed, maxIter=max_iter, featuresCol="__v", predictionCol="cell"
    ).fit(fit_on)
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return model.transform(vecs).drop("__v"), centroids


def ivf_topk(
    df: DataFrame,
    k_cells: int = 16,
    k: int = 3,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate self-kNN through a learned IVF with MULTI-PROBE search
    — the standard inverted-file shape:

    1. every vector lives in its nearest-centroid cell (the index);
    2. every QUERY probes its ``n_probe`` nearest cells (ranked by
       ``|c|² − 2·u·c``, the unit-vector Euclidean order — centroids ship
       as plan literals, so probing is map-side, no shuffle);
    3. per (probed cell) the query batch meets the cell's residents in a
       cogrouped Arrow batch and numpy/BLAS scores Q×B cosines at once;
    4. one window keeps the global top-k per query across its probes.

    Each (query, candidate) pair meets at most once (a candidate has one
    home cell), so no dedup shuffle.  Recall grows with ``n_probe`` at
    linear extra cost — the knob a 100 TB deployment tunes; the default
    (4) holds recall@1 >= 0.9 against brute force even on near-random
    embeddings, the geometry least favorable to an inverted file
    (pinned in tests/test_scale_utils.py; clustered real-world
    embeddings reach the same recall with fewer probes).
    """
    assigned, centroids = ivf_assign(df, k_cells=k_cells, vec_col=vec_col, seed=seed)
    assigned = assigned.withColumn("_vd", F.col(vec_col).cast("array<double>"))
    build = assigned.select(
        F.col("cell"), F.col(id_col).alias("d2"), F.col("_vd").alias("v2")
    )
    probe = assigned.select(
        F.col(id_col).alias("d1"),
        F.col("_vd").alias("v1"),
        F.explode(_probe_cells(centroids, n_probe)).alias("cell"),
    )
    return _ivf_cogroup_topk(
        probe, build, k=k, id_type=df.schema[id_col].dataType.simpleString(),
        exclude_self=True,
    )


def ivf_search(
    df: DataFrame,
    queries: DataFrame,
    k_cells: int = 16,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """ANN search of an EXTERNAL query batch against the learned IVF
    index — the serving twin of :func:`ivf_topk` (same cells, same
    multi-probe ranking, same cogrouped BLAS scoring; no self-exclusion).
    Output: (query_id, vec_id, cosine_sim, rnk)."""
    assigned, centroids = ivf_assign(df, k_cells=k_cells, vec_col=vec_col, seed=seed)
    build = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("d2"),
        F.col(vec_col).cast("array<double>").alias("v2"),
    )
    qpre = queries.select(
        F.col(query_id_col).alias("d1"),
        F.col(query_vec_col).cast("array<double>").alias("_vd"),
    )
    probe = qpre.select(
        F.col("d1"),
        F.col("_vd").alias("v1"),
        F.explode(_probe_cells(centroids, n_probe)).alias("cell"),
    )
    out = _ivf_cogroup_topk(
        probe, build, k=k,
        id_type=queries.schema[query_id_col].dataType.simpleString(),
        exclude_self=False,
        build_id_type=df.schema[id_col].dataType.simpleString(),
    )
    return out.select(
        F.col("d1").alias(query_id_col),
        F.col("d2").alias(id_col),
        "cosine_sim",
        "rnk",
    )


def _probe_cells(centroids: list[list[float]], n_probe: int):
    """Probe-cell ranking over the ``_vd`` column: ``|c|² − 2·u·c`` with
    u the normalized vector — monotone in ||u − c|| for |u| = 1, i.e. the
    k-means assignment order.  Centroids inline as plan literals, so
    ranking is map-side (no shuffle); array_sort on (score, cell) structs
    is deterministically ascending."""
    unrm = F.expr(norm_sql("_vd", cast=False))
    scored = F.array(
        *[
            F.struct(
                (
                    F.lit(sum(x * x for x in c))
                    - F.lit(2.0) * F.expr(plane_dot_sql("_vd", c, cast=False)) / unrm
                ).alias("s"),
                F.lit(j).alias("c"),
            )
            for j, c in enumerate(centroids)
        ]
    )
    return F.transform(F.slice(F.array_sort(scored), 1, n_probe), lambda st: st["c"])


def _ivf_cogroup_topk(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    id_type: str,
    exclude_self: bool,
    build_id_type: str | None = None,
) -> DataFrame:
    """Cogrouped per-cell BLAS scoring + one global top-k window.  Each
    (probe row, resident) pair meets at most once (one home cell per
    resident), so no dedup shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    def search(probe_pdf: pd.DataFrame, build_pdf: pd.DataFrame) -> pd.DataFrame:
        if probe_pdf.empty or build_pdf.empty:
            # empty halves arrive correctly typed from Arrow — slice THEM
            # (the house rule): a hand-built int64 frame crashes the
            # Arrow conversion whenever ids are strings.
            return pd.DataFrame(
                {
                    "d1": probe_pdf["d1"].iloc[0:0],
                    "d2": build_pdf["d2"].iloc[0:0],
                    "cosine_sim": pd.Series([], dtype="float64"),
                }
            )
        build_pdf = build_pdf.sort_values("d2")  # stable argsort ties -> asc id
        Q = np.array(probe_pdf["v1"].tolist(), dtype=np.float64)
        B = np.array(build_pdf["v2"].tolist(), dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        bn = np.sqrt((B * B).sum(axis=1))
        # Quantize BEFORE ranking (stable argsort, build sorted by id):
        # per-cell kept set is the top-k by (round(sim,6) DESC, d2 ASC),
        # so the downstream global window reproduces the same order an
        # exact-fold SQL oracle computes — ulp-insensitive ranks.
        S = np.round((Q @ B.T) / np.outer(qn, bn), 6)
        q_ids = probe_pdf["d1"].to_numpy()
        b_ids = build_pdf["d2"].to_numpy()
        if exclude_self:
            S[q_ids[:, None] == b_ids[None, :]] = -np.inf
        kk = min(k, S.shape[1])
        top = np.argsort(-S, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(len(q_ids)), kk)
        cols = top.ravel()
        keep = np.isfinite(S[rows, cols])
        return pd.DataFrame(
            {
                "d1": q_ids[rows[keep]],
                "d2": b_ids[cols[keep]],
                "cosine_sim": S[rows[keep], cols[keep]],
            }
        )

    cand = (
        probe.groupBy("cell")
        .cogroup(build.groupBy("cell"))
        .applyInPandas(
            lambda p, b: search(p, b),
            # d1 carries PROBE ids, d2 carries BUILD/corpus ids — they can
            # be different types (string-keyed queries over a long-id
            # corpus); declaring both with the probe type coerces or
            # crashes the Arrow conversion.
            schema=f"d1 {id_type}, d2 {build_id_type or id_type}, cosine_sim double",
        )
    )
    w = Window.partitionBy("d1").orderBy(F.desc("cosine_sim"), F.asc("d2"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("d1", "d2", "cosine_sim", "rnk")
    )


def deterministic_hyperplanes(num: int, dim: int) -> list[list[float]]:
    """±1 hyperplanes from a fixed LCG — reproducible in any engine (the
    literal matrix ships into both the Spark plan and the oracle SQL)."""
    state = 0x2545F4914F6CDD1D
    planes = []
    for _ in range(num):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1.0 if (state >> 32) & 1 else -1.0)
        planes.append(row)
    return planes


def deterministic_centroids(num: int, dim: int) -> list[list[float]]:
    """Fixed pseudo-random centroids in (-1, 1) from the same LCG family
    as :func:`deterministic_hyperplanes` (different stream constant).

    These are plan LITERALS: the same matrix inlines into both the Spark
    plan and a SQL oracle, making the whole IVF serving path (assignment
    → multi-probe → rank) replayable in any engine — the piece a LEARNED
    centroid set (iterative k-means) can never give an oracle.
    """
    state = 0x9E3779B97F4A7C15
    cents = []
    for _ in range(num):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # 21 mantissa bits -> exactly-representable doubles whose
            # repr() round-trips identically in every engine.
            row.append(((state >> 43) / float(1 << 20)) - 1.0)
        cents.append(row)
    return cents


def ivf_assign_literal(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment against a FIXED centroid set —
    the serving-path complement of :func:`ivf_assign` (which learns the
    centroids).  Adds a ``cell`` column.

    Pure map-side codegen: centroids inline as plan literals and the
    argmin is an ``array_sort`` over (score, cell) structs, so assignment
    is shuffle-free and bit-reproducible (same left-associated fold as
    :func:`_probe_cells`, deterministic ascending-cell tie-break) — at
    100 TB this is how a refreshed corpus re-enters a prebuilt index
    without a k-means fit.
    """
    pre = df.withColumn("_vd", F.expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"))
    return pre.withColumn(
        "cell", F.element_at(_probe_cells(centroids, 1), 1)
    ).drop("_vd")


def lsh_neardup_pairs(
    df: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane LSH.

    Scale shape: signature AND norm computed in the scan (no shuffle),
    candidates meet ONLY through shared sign buckets (one shuffle on the
    bucket key), exact cosine verifies inside each bucket using the
    precomputed norms — per-pair cost is a single dot product.  All-pairs
    cost never materializes; recall is tunable with ``num_planes`` (fewer
    planes = bigger buckets = higher recall, more verify work).  Each row
    lands in exactly one bucket, so (d1, d2) pairs are unique by
    construction — no dedup shuffle needed.
    """
    planes = deterministic_hyperplanes(num_planes, dim)
    bucket = "(" + " + ".join(
        f"(CASE WHEN {plane_dot_sql('_vd', h, cast=False)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j, h in enumerate(planes)
    ) + ")"
    # One array-wide cast per row; every downstream term indexes the
    # already-DOUBLE array (identical values, ~half the generated code).
    pre = df.select(
        F.col(id_col),
        F.expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)").alias("_vd"),
    )
    sigs = pre.select(
        F.col(id_col),
        F.col("_vd"),
        F.expr(bucket).cast("int").alias("bucket"),
        F.expr(norm_sql("_vd", dim, cast=False)).alias("nrm"),
    )
    a = sigs.select(
        F.col("bucket"),
        F.col(id_col).alias("d1"),
        F.col("_vd").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    b = sigs.select(
        F.col("bucket"),
        F.col(id_col).alias("d2"),
        F.col("_vd").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.expr(dot_sql("v1", "v2", dim, cast=False))
                / (F.col("n1") * F.col("n2")),
                6,
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("d1", "d2", "cosine_sim")
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """Materialize the IVF index on storage: the assigned corpus written
    ``partitionBy(cell)`` (a probe touches only its cells' files) plus
    the centroid table.  Build once, serve many — the k-means fit runs
    at INDEX time, never per query batch."""
    assigned, centroids = ivf_assign(df, k_cells=k_cells, vec_col=vec_col, seed=seed)
    (
        assigned.select(F.col(id_col), F.col(vec_col), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    spark = df.sparkSession
    cent_rows = [(i, c) for i, c in enumerate(centroids)]
    spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[list[float]]]:
    """Reload a :func:`build_ivf_index` artifact: (assigned vectors,
    centroid matrix).  The centroid table is tiny (k rows) — the one
    driver-side fetch a serving session pays once."""
    vectors = spark.read.parquet(f"{path}/vectors")
    cents = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return vectors, [[float(x) for x in r["centroid"]] for r in cents]


def ivf_search_prebuilt(
    index: tuple[DataFrame, list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve a query batch against a prebuilt/loaded IVF index — no
    k-means fit on the serving path (the whole point of an index).
    Same multi-probe ranking and cogrouped BLAS scoring as
    :func:`ivf_search`."""
    assigned, centroids = index
    build = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("d2"),
        F.col(vec_col).cast("array<double>").alias("v2"),
    )
    qpre = queries.select(
        F.col(query_id_col).alias("d1"),
        F.col(query_vec_col).cast("array<double>").alias("_vd"),
    )
    probe = qpre.select(
        F.col("d1"),
        F.col("_vd").alias("v1"),
        F.explode(_probe_cells(centroids, n_probe)).alias("cell"),
    )
    out = _ivf_cogroup_topk(
        probe,
        build,
        k=k,
        id_type=queries.schema[query_id_col].dataType.simpleString(),
        exclude_self=False,
        build_id_type=assigned.schema[id_col].dataType.simpleString(),
    )
    return out.select(
        F.col("d1").alias(query_id_col),
        F.col("d2").alias(id_col),
        "cosine_sim",
        "rnk",
    )


def ivf_search_split(
    index: "tuple[DataFrame, DataFrame, list[list[float]]]",
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Serve a query batch against an index AFTER cell-split
    maintenance (:func:`split_oversized_cells` /
    :func:`rebalance_cells`) — the piece that proves maintenance
    preserves serving recall: each query probes its nearest ORIGINAL
    centroid, then searches every CURRENT cell descended from that
    parent (child A keeps the parent id; each ``new_cells`` row links a
    child, transitively under repeated rebalance rounds).  Because a
    split only PARTITIONS a parent's members between itself and its
    children, probing the full descendant set scans exactly the
    parent's pre-split membership — so the top-k equals the unsplit
    index's 1-probe answer by construction (pinned by test), while the
    per-cell Arrow batches the cogrouped scorer sees stay
    ``max_cell_size``-bounded.

    ``index`` is ``(reassigned, new_cells, centroids)`` — the two
    outputs of the split operator plus the ORIGINAL centroid matrix.
    The descendant map is cell-scale metadata (one driver collect,
    aggregate-output-class).  Output: (query_id, vec_id, cosine_sim,
    rnk)."""
    reassigned, new_cells, centroids = index
    links = new_cells.select(
        "parent", F.col(cell_col).alias("__child")
    ).collect()  # cell-scale
    parent_of = {r["__child"]: r["parent"] for r in links}

    def _root(c: int) -> int:
        while c in parent_of:
            c = parent_of[c]
        return c

    pairs = [(j, j) for j in range(len(centroids))] + [
        (_root(r["__child"]), r["__child"]) for r in links
    ]
    spark = reassigned.sparkSession
    dmap = spark.createDataFrame(pairs, f"__parent int, {cell_col} int")
    build = reassigned.select(
        F.col(cell_col),
        F.col(id_col).alias("d2"),
        F.col(vec_col).cast("array<double>").alias("v2"),
    )
    qpre = queries.select(
        F.col(query_id_col).alias("d1"),
        F.col(query_vec_col).cast("array<double>").alias("_vd"),
    )
    probe = (
        qpre.select(
            F.col("d1"),
            F.col("_vd").alias("v1"),
            F.element_at(_probe_cells(centroids, 1), 1).alias("__parent"),
        )
        .join(F.broadcast(dmap), "__parent")
        .select("d1", "v1", cell_col)
    )
    out = _ivf_cogroup_topk(
        probe,
        build,
        k=k,
        id_type=queries.schema[query_id_col].dataType.simpleString(),
        exclude_self=False,
        build_id_type=reassigned.schema[id_col].dataType.simpleString(),
    )
    return out.select(
        F.col("d1").alias(query_id_col),
        F.col("d2").alias(id_col),
        "cosine_sim",
        "rnk",
    )


def semantic_neardup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    cache_sigs: bool = True,
) -> DataFrame:
    """Within-cell embedding-cosine near-duplicate pairs: every vector is
    assigned to its nearest centroid cell (map-side, centroids as plan
    literals — :func:`_probe_cells`), and candidates meet ONLY through a
    shared cell (one equi-join shuffle on ``cell``), never all-pairs.

    Returns ``(cell, d1, d2, cosine_sim)`` with ``d1 < d2`` — each pair
    appears exactly once because a vector lives in exactly one cell.
    Norms are precomputed per ROW before the join, so per-pair work is a
    single dot product.

    Scale shape: average cell population is N/len(centroids); size the
    centroid set so a cell's pair block fits a task (SemDeDup ran 50k
    clusters over ~1e9 embeddings for the same reason).  A pathological
    hot cell is the same hazard as a hot label in
    :func:`pairwise_topk_per_label` — refit/expand the centroid set, or
    pre-split with that function's salting pattern.

    ``cache_sigs=True`` (default) materializes the assigned
    ``(id, _vd, cell, nrm)`` frame once (lazy localCheckpoint,
    ContextCleaner-dropped) before the self-join references it twice.
    Without it the nearest-centroid assignment — k dot products per
    row, each an interpreted HOF fold — executes once per join side,
    and the join's pushed ``isnotnull(cell)`` null-filter re-evaluates
    the WHOLE assignment expression a second time per row below each
    Project (the guide §4.4 duplication, with a built-in expression):
    ~4 assignment passes per action where one suffices.  Materializing
    the assignment is what SemDeDup's own pipeline does anyway (the
    cell table IS the index); state is id + dim doubles + cell + nrm
    per row, payloads never enter block storage.
    """
    dim = dim or len(centroids[0])
    pre = df.select(
        F.col(id_col),
        F.expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)").alias("_vd"),
    )
    sigs = pre.select(
        F.col(id_col),
        F.col("_vd"),
        F.element_at(_probe_cells(centroids, 1), 1).alias("cell"),
        F.expr(norm_sql("_vd", dim, cast=False)).alias("nrm"),
    )
    if cache_sigs:
        sigs = sigs.localCheckpoint(eager=False)
    a = sigs.select(
        F.col("cell"),
        F.col(id_col).alias("d1"),
        F.col("_vd").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    b = sigs.select(
        F.col("cell"),
        F.col(id_col).alias("d2"),
        F.col("_vd").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.expr(dot_sql("v1", "v2", dim, cast=False))
                / (F.col("n1") * F.col("n2")),
                6,
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("cell", "d1", "d2", "cosine_sim")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings into centroid cells, call two
    docs semantic duplicates when their cosine similarity within a cell
    clears ``threshold``, and keep one representative per duplicate
    group — here the MINIMUM id, so the survivor set is deterministic
    under any partitioning (the paper keeps a random representative;
    min-id is the reproducible choice, same policy as
    ``dedup_corpus``).

    A doc is dropped iff some LOWER-id doc in its cell is a near-dup —
    the greedy per-cell approximation SemDeDup itself uses (no
    connected-components pass over the epsilon graph; a transitive
    chain collapses toward the chain minimum).  Survivors = input
    ``left_anti`` the loser set, so the operator composes with any
    downstream pipeline stage and never materializes pair data beyond
    the loser ids.
    """
    losers = (
        semantic_neardup_pairs(
            df,
            centroids,
            threshold=threshold,
            vec_col=vec_col,
            id_col=id_col,
            dim=dim,
        )
        .select(F.col("d2").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def cell_store(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The persistable state for incremental semantic dedup: one
    ``(id, cell, vec, nrm)`` row per accepted document — nearest-cell
    assignment plus the precomputed double vector and norm, so future
    batches pay zero per-store-row recompute.  At warehouse scale write
    it partitioned/bucketed on ``cell`` so every batch joins
    co-located."""
    dim = len(centroids[0])
    pre = df.select(
        F.col(id_col),
        F.expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)").alias("_vd"),
    )
    return pre.select(
        F.col(id_col),
        F.element_at(_probe_cells(centroids, 1), 1).alias("cell"),
        F.col("_vd").alias("vec"),
        F.expr(norm_sql("_vd", dim, cast=False)).alias("nrm"),
    )


def incremental_semantic_dedup(
    new_docs: DataFrame,
    store: DataFrame | None,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    use_gemm: bool = True,
    return_delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Semantic dedup of a NEW batch against the accumulated corpus —
    the incremental twin of :func:`semantic_dedup`, completing the
    incremental family (exact: ``incremental_exact_dedup``, MinHash:
    ``incremental_neardup_dedup``, embedding: here).

    In-batch semantic dups resolve first (keep-min-id per cell); the
    surviving batch rows then meet the store ONLY through their cell
    (equi-join on ``cell`` — co-located when the store is bucketed on
    it) and are dropped when any stored doc clears the cosine
    threshold.  Returns ``(fresh, updated_store)``; the store grows
    only by surviving docs, so future batches dedup against canonical
    survivors.

    ``use_gemm`` (default — the production path) runs both the in-batch
    step and the cross-store check as per-cell BLAS matmuls
    (:func:`semantic_dedup_gemm`'s kernel; the cross check is a
    cogrouped batch×store matrix per cell) instead of per-pair
    interpreted array folds — measured 170 s → ~4 s on the dense sf1
    scaling corpus.  Decisions compare the 6-decimal-QUANTIZED
    similarity either way, so the two modes agree everywhere except
    pairs whose raw cosine sits within an ulp of a rounding boundary;
    ``use_gemm=False`` is the SQL-replayable fold the oracle uses.

    Same cross-batch chain semantics as the other incremental ops
    (documented on ``incremental_neardup_dedup``): membership is
    decided against surviving canonicals at arrival time.
    """
    if use_gemm:
        batch_survivors = semantic_dedup_gemm(
            new_docs, centroids, threshold=threshold, vec_col=vec_col, id_col=id_col
        )
    else:
        batch_survivors = semantic_dedup(
            new_docs, centroids, threshold=threshold, vec_col=vec_col, id_col=id_col
        )
    # Materialize the BATCH-scale GEMM results once so a caller running
    # several actions over (fresh, updated) — e.g. the streaming sink's
    # kept-append + store-rewrite — doesn't re-run the dedup kernels per
    # action, and ``fresh`` (which references the survivors twice, once
    # through the cross-store hit set) doesn't run them per reference.
    # Only batch-sized relations are checkpointed; the accumulated store
    # never enters block storage.
    batch_survivors = batch_survivors.localCheckpoint(eager=True)
    surv_store = cell_store(batch_survivors, centroids, vec_col, id_col)
    if store is not None:
        if use_gemm:
            hits = _cross_hits_gemm(surv_store, store, threshold, id_col)
        else:
            a = surv_store.alias("a")
            b = store.alias("b")
            cos = F.round(
                dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            )
            hits = (
                a.join(b, F.col("a.cell") == F.col("b.cell"))
                .where(cos >= F.lit(threshold))
                .select(F.col(f"a.{id_col}").alias(id_col))
                .distinct()
            )
        hits = hits.localCheckpoint(eager=True)  # ids only — tiny
        fresh = batch_survivors.join(hits, id_col, "left_anti")
        surv_store = surv_store.join(hits, id_col, "left_anti")
        # return_delta: the store is strictly append-only (survivors
        # are anti-joined against it), so a delta-segment sink needs
        # only the batch's new store rows — O(batch) per trigger
        # instead of rewriting the vector-scale store.
        updated = (
            surv_store if return_delta else store.unionByName(surv_store)
        )
        return fresh, updated
    return batch_survivors, surv_store


def _cross_hits_gemm(
    batch_store: DataFrame,
    store: DataFrame,
    threshold: float,
    id_col: str,
    chunk: int = 1024,
) -> DataFrame:
    """Batch ids with a stored cosine near-dup in their cell, decided by
    one cogrouped BLAS matmul per cell (chunked rows — memory
    O(chunk × store_cell); decisions over the quantized similarity,
    same contract as :func:`semantic_dedup_gemm`).

    The store side is re-aliased column-by-column before the cogroup:
    when batch and store derive from the same source relation (the
    catalog's even/odd split, or a store freshly rebuilt from the same
    scan), both grouped children would otherwise carry identical
    attribute ids and trip Spark's ambiguous-self-join check."""
    import numpy as np
    import pandas as pd

    id_type = batch_store.schema[id_col].dataType.simpleString()
    right = store.select(
        *[F.col(c).alias(f"__r_{c}") for c in store.columns]
    )

    def per_cell(left: pd.DataFrame, rgt: pd.DataFrame) -> pd.DataFrame:
        if left.empty or rgt.empty:
            # Preserve the id column's real dtype (string ids included):
            # Arrow hands even empty groups a correctly-typed frame.
            return left.iloc[0:0][[id_col]]
        ids = left[id_col].to_numpy()
        A = np.array(left["vec"].tolist(), dtype=np.float64)
        B = np.array(rgt["__r_vec"].tolist(), dtype=np.float64)
        na = left["nrm"].to_numpy()
        nb = rgt["__r_nrm"].to_numpy()
        hit_rows = []
        for lo in range(0, len(A), chunk):
            hi = min(lo + chunk, len(A))
            S = np.round((A[lo:hi] @ B.T) / np.outer(na[lo:hi], nb), 6)
            hit_rows.append(ids[lo:hi][(S >= threshold).any(axis=1)])
        hits = np.concatenate(hit_rows) if hit_rows else np.array([], dtype=ids.dtype)
        return pd.DataFrame({id_col: hits})

    return (
        batch_store.groupBy("cell")
        .cogroup(right.groupBy("__r_cell"))
        .applyInPandas(per_cell, schema=f"{id_col} {id_type}")
    )


def semantic_dedup_gemm(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    chunk: int = 1024,
    max_cell_size: int = 65_536,
) -> DataFrame:
    """Vectorized twin of :func:`semantic_dedup` — the production path.

    Each centroid cell arrives as ONE Arrow batch (``applyInPandas``);
    a BLAS matmul computes the cell's cosine matrix in row chunks
    (memory O(chunk × B), never B²) and a doc is marked a loser when
    any LOWER-id row in the cell clears the threshold — identical
    keep-min-id policy, dense linear algebra instead of B² interpreted
    array folds (measured ~10× on the sf0.1 bench corpus).

    Decision contract: the comparison runs over the 6-decimal-QUANTIZED
    similarity, same as the exact twin, so the survivor set matches it
    everywhere except pairs whose raw cosine sits within an ulp of a
    rounding boundary (BLAS accumulates blocked/SIMD; same caveat as
    ``pairwise_topk_per_label_gemm``, equality-tested on real data in
    tests).  ``max_cell_size`` guards the Arrow-batch hazard — size the
    centroid set so cells fit; oversized cells raise."""
    id_type = df.schema[id_col].dataType.simpleString()
    sigs = cell_store(df, centroids, vec_col, id_col)
    losers = _gemm_cell_losers(
        sigs, id_col, id_type, threshold, chunk, max_cell_size
    )
    return df.join(losers, id_col, "left_anti")


def _gemm_cell_losers(
    sigs: DataFrame,
    id_col: str,
    id_type: str,
    threshold: float,
    chunk: int,
    max_cell_size: int,
) -> DataFrame:
    """The per-cell BLAS loser kernel shared by :func:`semantic_dedup_gemm`
    (literal-centroid cells) and :func:`semantic_dedup_scaled` (learned
    cells): ``sigs`` is ``(id, cell, vec, nrm)``; output is the loser id
    set (any strictly-lower-id row in the cell clears the threshold on
    the 6-decimal-quantized cosine)."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        b = len(pdf)
        if b > max_cell_size:
            raise ValueError(
                f"cell {pdf['cell'].iloc[0]!r} has {b} rows "
                f"(max_cell_size={max_cell_size}); refit with more centroids"
            )
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.array(pdf["vec"].tolist(), dtype=np.float64)
        norms = pdf["nrm"].to_numpy()
        out = []
        for lo in range(0, b, chunk):
            hi = min(lo + chunk, b)
            S = np.round((V[lo:hi] @ V.T) / np.outer(norms[lo:hi], norms), 6)
            # loser: any strictly-lower-id column clears the threshold
            lower = np.arange(b)[None, :] < np.arange(lo, hi)[:, None]
            hit = ((S >= threshold) & lower).any(axis=1)
            out.append(ids[lo:hi][hit])
        losers = np.concatenate(out) if out else np.array([], dtype=ids.dtype)
        return pd.DataFrame({id_col: losers})

    return sigs.groupBy("cell").applyInPandas(
        per_cell, schema=f"{id_col} {id_type}"
    )


def semantic_dedup_scaled(
    df: DataFrame,
    threshold: float = 0.9,
    target_cell_size: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    chunk: int = 1024,
    max_cell_size: int = 65_536,
    fit_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """SemDeDup with the cell count SCALED TO THE CORPUS — the
    100 TB entry point the fixed-centroid twins are not.

    The per-cell pairwise comparison is quadratic in CELL SIZE, so any
    fixed centroid set turns 10× data into ~100× work (measured: the
    8-cell catalog fixture grew 38× on a 10× corpus).  SemDeDup's own
    recipe (Abbas et al. 2023) holds cell size roughly constant by
    growing k with the corpus: here ``k = clamp(n / target_cell_size,
    8, 1_048_576)``, spherical k-means fits on ``fit_fraction`` of the
    data (pass ~1e-3 at warehouse scale so the iterative fit never
    re-scans the corpus), every vector assigns map-side through the
    model, and the shared BLAS kernel prices each cell at
    O(target_cell_size²) — total work linear in ``n`` at constant
    duplicate density.  One ``count()`` action sizes k (bounded
    metadata, the centroids/codebook rule).

    Same keep-min-id greedy contract as :func:`semantic_dedup`; learned
    centroids make this rows-only for the correctness gate (iterative
    artifact, not SQL-replayable).  The fit is
    :func:`_kmeans_fit_deterministic` (round 13 — previously pyspark.ml,
    whose task-scheduling float accumulation made same-seed survivor
    sets drift run to run): the whole scaled family is now
    bit-reproducible for fixed (data, seed), and a fit sample smaller
    than k fails fast inside the fitter with the raise-fit_fraction
    message."""
    n = df.count()
    if n == 0:
        raise ValueError(
            "semantic_dedup_scaled: empty corpus (n=0) — nothing to fit; "
            "failing here beats an opaque k-means error"
        )
    if n == 1:
        return df  # a single vector has no pair to lose to
    # Clamp k into [2, n]: a sub-target_cell_size corpus must not ask
    # k-means for more centroids than it has points.
    k = max(8, min(1_048_576, (n + target_cell_size - 1) // target_cell_size))
    k = max(2, min(k, n))
    import numpy as np

    centroids = _kmeans_fit_deterministic(
        df, int(k), vec_col=vec_col, seed=seed,
        max_iter=max_iter, fit_fraction=fit_fraction,
    )
    sigs = _assign_with_matrix(
        df, np.array(centroids, dtype=np.float64), "", vec_col, id_col
    ).select(id_col, "cell", "vec", "nrm")
    id_type = df.schema[id_col].dataType.simpleString()
    losers = _gemm_cell_losers(
        sigs, id_col, id_type, threshold, chunk, max_cell_size
    )
    return df.join(losers, id_col, "left_anti")


# ---- incremental SemDeDup at corpus scale (round 13) ----------------
# incremental_semantic_dedup takes LITERAL centroids — fixed forever,
# because the persisted store's cell assignment must never change.
# At 100 TB that is the same trap semantic_dedup_scaled closed for the
# batch path, but structural: with a fixed cell count the accumulated
# store's cells grow without bound, so EVERY future batch's
# cross-store GEMM costs O(batch x store/k) — per-batch cost grows
# linearly with corpus history.  The fix is the same (cells sized to
# the EXPECTED corpus), with the centroids persisted as a TABLE next
# to the store so every batch assigns against the identical geometry:
# per-batch cost becomes O(batch x target_cell_size) — constant.

_MAX_FITTED_CELLS = 65_536  # broadcast-matrix bound (k x dim doubles)


def _kmeans_fit_deterministic(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    fit_fraction: float | None = None,
) -> list[list[float]]:
    """Spherical k-means whose result is BIT-DETERMINISTIC for fixed
    (data, seed) — pyspark.ml's KMeans is not: its per-iteration
    cluster sums are double `treeAggregate`s whose accumulation order
    follows task scheduling, so the same fit drifts run to run
    (measured: three same-seed fits, three centroid fingerprints).
    For a centroid table that STAMPS provenance and must be
    re-derivable, that is unacceptable.

    Determinism here comes from the repo's own aggregation rule:

    - init: the k sample rows with the smallest ``xxhash64(vec, seed)``
      (a deterministic uniform draw; orderBy is total via the hash +
      vector-string tiebreak);
    - assign: broadcast-matrix GEMM argmax (numpy, first-max
      tie-break) over UNIT-normalized vectors;
    - update: per-cell per-dimension means accumulated in
      DECIMAL(28,12) — exact, ORDER-INDEPENDENT — then one bounded
      collect of k x dim means (the centroids/codebook rule).

    Empty cells keep their previous centroid.  ``fit_fraction``
    subsamples by content hash (deterministic, no RNG state)."""
    import numpy as np

    arr = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    )
    unit = F.zip_with(
        arr,
        F.array_repeat(F.greatest(nrm, F.lit(1e-300)), F.size(arr)),
        lambda x, n: x / n,
    )
    pts = df.select(unit.alias("_u"))
    h = F.xxhash64(F.col("_u").cast("string"), F.lit(seed))
    if fit_fraction is not None:
        pts = pts.where(
            F.pmod(h, F.lit(1_000_000)) < int(fit_fraction * 1_000_000)
        )
    pts = pts.persist()
    try:
        init_rows = (
            pts.select("_u", h.alias("_h"))
            .orderBy("_h", F.col("_u").cast("string"))
            .limit(k)
            .collect()
        )
        if len(init_rows) < k:
            # Fail-fast, not silent shrink: returning fewer cells than
            # the corpus sizing computed would let accumulated cells
            # grow past target_cell_size forever (the geometry is
            # immutable once a store stamps it) — the same thin-sample
            # posture as semantic_dedup_scaled.
            raise ValueError(
                f"deterministic k-means: the fit sample has "
                f"{len(init_rows)} rows but k={k} centroids need at "
                "least that many points — raise fit_fraction or "
                "target_cell_size"
            )
        mat = np.array([r["_u"] for r in init_rows], dtype=np.float64)
        k_eff, dim = mat.shape
        dec = "DECIMAL(28,12)"
        sums = [
            F.sum(F.round(F.element_at("_u", i + 1), 9).cast(dec)).alias(f"s{i}")
            for i in range(dim)
        ]
        for _ in range(max_iter):
            half_c2 = 0.5 * (mat * mat).sum(axis=1)
            bmat, bh = mat, half_c2

            def cell_of(it, _m=bmat, _h=bh):
                import pandas as pd

                for pdf in it:
                    V = np.array(pdf["_u"].tolist(), dtype=np.float64)
                    yield pd.DataFrame(
                        {
                            "_u": pdf["_u"],
                            "cell": (V @ _m.T - _h[None, :]).argmax(axis=1).astype("int32"),
                        }
                    )

            assigned = pts.mapInPandas(
                cell_of, schema="_u array<double>, cell int"
            )
            stats = assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n"), *sums
            ).collect()
            new = mat.copy()
            for r in stats:
                c = r["cell"]
                n = r["n"]
                new[c] = [float(r[f"s{i}"]) / n for i in range(dim)]
            if np.array_equal(new, mat):
                break
            mat = new
        return [[float(x) for x in c] for c in mat]
    finally:
        pts.unpersist()


def fit_semantic_cells(
    df: DataFrame,
    target_cell_size: int = 1024,
    expected_corpus_rows: int | None = None,
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Fit the persistable centroid TABLE ``(cell, cvec, cgen)`` for
    :func:`incremental_semantic_dedup_scaled` — spherical k-means with
    ``k = clamp(expected_corpus_rows / target_cell_size, 2, 65536)``.

    ``expected_corpus_rows`` is the honest 100 TB knob: the centroid
    geometry is immutable once a store exists, so size k to the corpus
    you intend to ACCUMULATE, not to the first batch (defaults to
    ``df.count()`` for single-corpus use).  ``cgen`` stamps every row
    with the table's content fingerprint — the provenance marker the
    dedup step checks against the store (the band_store/bloom rule:
    state assigned under one geometry must never silently join a batch
    assigned under another).

    k is capped at 65 536: assignment broadcasts the k x dim centroid
    matrix to executors (metadata-scale by the centroids/codebook
    rule — 32 MiB at dim 64).  Beyond that an inverted-file hierarchy
    (coarse cells, then fine) is the standard route; this operator
    refuses rather than silently degrading."""
    n_fit = df.count()
    n = expected_corpus_rows if expected_corpus_rows is not None else n_fit
    if n <= 0 or n_fit <= 0:
        raise ValueError(
            "fit_semantic_cells: fit data and expected corpus size must "
            "be non-empty"
        )
    k = max(2, (n + target_cell_size - 1) // target_cell_size)
    if k > _MAX_FITTED_CELLS:
        raise ValueError(
            f"fit_semantic_cells: k={k} centroids exceed the "
            f"{_MAX_FITTED_CELLS} broadcast bound — raise "
            "target_cell_size or build a coarse/fine hierarchy"
        )
    k = min(k, max(n_fit, 2))  # never ask k-means for more cells than points
    centroids = _kmeans_fit_deterministic(
        df, int(k), vec_col=vec_col, seed=seed,
        max_iter=max_iter, fit_fraction=fit_fraction,
    )
    spark = df.sparkSession
    gen = _cells_fingerprint(centroids)
    return spark.createDataFrame(
        [(i, [float(x) for x in c], gen) for i, c in enumerate(centroids)],
        "cell int, cvec array<double>, cgen string",
    )


def _cells_fingerprint(centroids: list[list[float]]) -> str:
    """Deterministic content hash of a centroid matrix (6-decimal
    rounding absorbs nothing real: two independently fitted tables
    never collide, and a re-read of the same persisted table always
    matches)."""
    import hashlib

    payload = ";".join(
        ",".join(f"{round(float(x), 6):.6f}" for x in c) for c in centroids
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _collect_cells(centroid_table: DataFrame):
    """(matrix, fingerprint) from a centroid table — bounded by the
    _MAX_FITTED_CELLS cap (metadata-scale collect)."""
    import numpy as np

    rows = centroid_table.select("cell", "cvec", "cgen").collect()
    if not rows:
        raise ValueError("empty centroid table")
    gens = {r["cgen"] for r in rows}
    if len(gens) > 1:
        raise ValueError(
            f"centroid table carries mixed cgen fingerprints {sorted(gens)} "
            "— two fitted tables were unioned; refit instead"
        )
    mat = np.zeros((max(r["cell"] for r in rows) + 1, len(rows[0]["cvec"])))
    for r in rows:
        mat[r["cell"]] = r["cvec"]
    return mat, gens.pop()


def assign_cells(
    df: DataFrame,
    centroid_table: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`cell_store` against a FITTED centroid table: one
    Arrow-batched GEMM per partition assigns every vector to its
    nearest centroid (unit-normalized query q, so
    ``argmin ||q - c||² == argmax (q·c - |c|²/2)``; ascending-cell
    tie-break, numpy argmax's first-max rule).  Output
    ``(id, cell, vec, nrm, cgen)`` — the incremental store schema plus
    the geometry fingerprint.  The centroid matrix ships in the closure
    (driver-collected once, metadata-scale); no shuffle."""
    mat, gen = _collect_cells(centroid_table)
    return _assign_with_matrix(df, mat, gen, vec_col, id_col)


def _assign_with_matrix(
    df: DataFrame,
    mat,
    gen: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`assign_cells` against an ALREADY-collected matrix — the
    internal face incremental callers use so the centroid table is
    driver-collected exactly once per batch (guard + assignment share
    the same collect)."""
    import numpy as np
    import pandas as pd

    half_c2 = 0.5 * (mat * mat).sum(axis=1)  # |c|^2 / 2 per cell
    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it):
        for pdf in it:
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            safe = np.where(nrm == 0.0, 1.0, nrm)
            scores = (V / safe[:, None]) @ mat.T - half_c2[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": scores.argmax(axis=1).astype("int32"),
                    "vec": list(V),
                    "nrm": nrm,
                    "cgen": gen,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} {id_type}, cell int, vec array<double>, "
            "nrm double, cgen string"
        ),
    )


def _thread_target_wrapper(spark: SparkSession) -> Callable:
    """``inheritable_thread_target(spark)``: wraps a thread target so its
    jobs carry the caller's Spark local properties (job group, tags,
    scheduler pool).  With pinned-thread mode off it returns the session
    itself — properties are shared JVM-side there, so targets run
    as-is.  Any other failure (a stopped context) propagates."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return (lambda fn: fn) if wrap is spark else wrap


def incremental_semantic_dedup_scaled(
    new_docs: DataFrame,
    store: DataFrame | None,
    centroid_table: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    chunk: int = 1024,
    max_cell_size: int = 65_536,
    check_geometry: bool = True,
    return_delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """:func:`incremental_semantic_dedup` with CORPUS-SCALED learned
    cells — the 100 TB incremental entry point.  Fit the centroid
    table once (:func:`fit_semantic_cells`, sized to the corpus you
    will accumulate), persist it next to the store, and every batch:

    1. assigns map-side against the broadcast centroid matrix
       (:func:`assign_cells` — no shuffle);
    2. resolves in-batch dups per cell (the shared BLAS loser kernel,
       keep-min-id);
    3. drops batch rows any stored doc in the same cell matches
       (cogrouped batch x store GEMM).

    With cells held near ``target_cell_size`` by construction, step 3
    costs O(batch x target_cell_size x dim) per batch — CONSTANT as
    the store grows, where the fixed-centroid twin's per-batch cost
    grows linearly with corpus history.

    Provenance: batch assignments and the store both carry the
    centroid table's ``cgen`` fingerprint; a store assigned under a
    different geometry (refit table, hand-unioned stores) is refused
    mechanically — DISTINCT markers, the round-13
    incremental_neardup_dedup rule.  Returns ``(fresh,
    updated_store)``; same arrival-time chain semantics as the other
    incremental ops."""
    # ONE driver collect per batch: guard and assignment share it.
    mat, batch_gen = _collect_cells(centroid_table)
    if store is not None and check_geometry:
        # Guard BEFORE any batch work: a mismatched-geometry batch must
        # not pay the full assignment GEMM before failing.  DISTINCT
        # markers (the mixed-union rule); one dictionary-encoded column
        # scan of the store — callers that WROTE every store version
        # themselves (the streaming sink after its first batch) pass
        # check_geometry=False to skip it.
        marks = sorted(
            r["cgen"] if r["cgen"] is not None else "<null>"
            for r in store.select("cgen").distinct().collect()
        )
        if any(m != batch_gen for m in marks):
            raise ValueError(
                f"incremental_semantic_dedup_scaled: store carries cell "
                f"geometry {marks} but the centroid table is "
                f"{batch_gen!r} — cells would never align; refit the "
                "store or use its original table"
            )
    sigs = _assign_with_matrix(
        new_docs, mat, batch_gen, vec_col, id_col
    ).localCheckpoint(eager=True)
    id_type = new_docs.schema[id_col].dataType.simpleString()
    losers = _gemm_cell_losers(
        sigs.select(id_col, "cell", "vec", "nrm"),
        id_col, id_type, threshold, chunk, max_cell_size,
    )
    # Materialize the loser ID SET itself (id-scale), not just its two
    # consumers: batch_survivors and surv_sigs each anti-join against
    # ``losers``, so eagerly checkpointing only those two frames
    # executed the in-batch GEMM kernel — and its corpus-scale vector
    # shuffle into applyInPandas — once per consumer (guide §2.4
    # duplicated-subtree rule).
    losers = losers.localCheckpoint(eager=True)
    batch_survivors = new_docs.join(losers, id_col, "left_anti")
    surv_sigs = sigs.join(losers, id_col, "left_anti")
    # The two survivor frames are INDEPENDENT anti-joins of
    # already-checkpointed inputs; materialize them concurrently — each
    # job under-fills the cluster at batch scale, so running them
    # back-to-back serializes idle cores (thread-pool job overlap; Spark
    # schedules jobs from separate threads fine).
    # inheritable_thread_target so the checkpoint jobs carry the
    # caller's Spark local properties (job group/tags, scheduler pool):
    # a plain thread under pinned-thread mode detaches them, so
    # cancelling the caller's job group — e.g. stopping the streaming
    # query whose foreachBatch is running this — would not reach an
    # in-flight checkpoint job (ADVICE r17).
    from concurrent.futures import ThreadPoolExecutor

    _inherit = _thread_target_wrapper(new_docs.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bs = pool.submit(
            _inherit(lambda: batch_survivors.localCheckpoint(eager=True))
        )
        f_ss = pool.submit(
            _inherit(lambda: surv_sigs.localCheckpoint(eager=True))
        )
        batch_survivors = f_bs.result()
        surv_sigs = f_ss.result()
    if store is not None:
        # Only store cells the BATCH touches enter the cross GEMM: a
        # batch of B rows names <= B distinct cells, so the semi-join
        # (broadcast — cell ids are batch-bounded metadata) keeps
        # <= B x target_cell_size store rows.  This is what makes the
        # per-batch cost CONSTANT as the store accumulates; cogrouping
        # the unfiltered store would shuffle the whole history every
        # batch (and with cell-partitioned storage the semi-join prunes
        # at the scan).
        touched = surv_sigs.select("cell").distinct()
        store_touched = store.select(id_col, "cell", "vec", "nrm").join(
            F.broadcast(touched), "cell", "left_semi"
        )
        hits = _cross_hits_gemm(
            surv_sigs.select(id_col, "cell", "vec", "nrm"),
            store_touched,
            threshold,
            id_col,
        ).localCheckpoint(eager=True)
        batch_survivors = batch_survivors.join(hits, id_col, "left_anti")
        surv_sigs = surv_sigs.join(hits, id_col, "left_anti")
        # return_delta: append-only store — delta-segment sink contract
        # (see incremental_semantic_dedup).
        return batch_survivors, (
            surv_sigs if return_delta else store.unionByName(surv_sigs)
        )
    return batch_survivors, surv_sigs


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Mean-pool vectors per group — the chunk→document embedding
    aggregation step (pool chunk embeddings into one doc vector before
    semantic dedup / ANN indexing).

    Plan shape: ONE map-side-combined shuffle — each dimension is its
    own ``SUM(vec[i])`` aggregate, so partial sums happen before the
    exchange and the shuffle carries ``groups × dim`` scalars, never
    row-scale data.  (The alternative — posexplode → two shuffles — is
    strictly worse; a per-group Pandas kernel would move whole vectors
    across the wire.)

    ``exact=True`` accumulates each dimension in DECIMAL(28, 12)
    (exact, order-independent — the engine's money-aggregation rule)
    before the final double division, making the result reproducible
    across engines and partitionings; the default double sum is the
    fast production path whose low-order bits may vary with partition
    order (document-level cosine doesn't care).
    """
    el = F.col(vec_col)
    if exact:
        sums = [
            F.sum(el.getItem(i).cast("decimal(28,12)")).alias(f"_s{i}")
            for i in range(dim)
        ]
    else:
        sums = [
            F.sum(el.getItem(i).cast("double")).alias(f"_s{i}")
            for i in range(dim)
        ]
    agg = df.groupBy(group_col).agg(*sums, F.count(F.lit(1)).alias("_n"))
    mean = F.array(
        *[
            (F.col(f"_s{i}").cast("double") / F.col("_n")).alias(f"m{i}")
            for i in range(dim)
        ]
    )
    return agg.select(F.col(group_col), mean.alias("mean_embedding"))


def target_centroid_scores(
    df: DataFrame,
    target: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-based domain/quality scoring: cosine of every vector
    to the TARGET CENTROID (the mean of the target set's vectors) —
    the lightweight proxy for classifier-based filtering (score a web
    corpus by similarity to a curated seed set, then threshold or
    top-k; the shape behind fineweb-edu-style selection when the
    "classifier" is a nearest-centroid model).

    Plan shape: the centroid is ONE map-side-combined aggregate
    (:func:`mean_pool_embeddings` with a constant group) that
    broadcasts as a single row; the corpus side is a codegen HOF
    dot/norm fold per row — NO shuffle of the corpus, parquet-scan
    speed at 100 TB.  ``exact=True`` takes the decimal-accumulated
    centroid rounded to 6 dp, so scores are engine-reproducible.

    Returns ``(id, target_cosine)``; feed to a threshold filter,
    :func:`operators.curation.topk_per_group`, or a weighted sampler.

    An EMPTY target set produces an EMPTY result (the centroid
    aggregate has no groups, so the cross join annihilates the corpus)
    — a downstream selection would silently pick nothing, so validate
    the seed-set filter upstream if emptiness is possible.
    """
    pooled = mean_pool_embeddings(
        target.select(F.lit(1).alias("__g"), F.col(vec_col)),
        "__g",
        vec_col=vec_col,
        dim=dim,
        exact=exact,
    )
    cent = pooled.select(
        (
            F.array(
                *[
                    F.round(F.col("mean_embedding")[i], 6)
                    for i in range(dim)
                ]
            )
            if exact
            else F.col("mean_embedding")
        ).alias("__cent")
    )
    sim = F.expr(
        f"({dot_sql(vec_col, '__cent')})"
        f" / ((SQRT({dot_sql(vec_col, vec_col)}))"
        f" * (SQRT({dot_sql('__cent', '__cent', cast=False)})))"
    )
    return (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(F.col(id_col), sim.alias("target_cosine"))
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Left-associated double fold of |a-b|² — the distance the split
    decisions rank on; same shape as the DuckDB list_reduce twin, so
    verdicts are bit-reproducible."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def split_oversized_cells(
    assigned: DataFrame,
    max_cell_size: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    exclude_cells=None,
) -> "tuple[DataFrame, DataFrame]":
    """IVF index MAINTENANCE: split every cell holding more than
    ``max_cell_size`` vectors into two — the re-balance step an
    incrementally-growing index needs (without it, a hot cell slowly
    turns cell-bounded search back into brute force; the classic
    IVF failure mode at corpus scale).

    Deterministic two-seed split (no Lloyd iterations, so the whole
    decision replays in SQL): seed A = the cell's MINIMUM-id member,
    seed B = the member FARTHEST from A (squared distance rounded to 6
    decimals, min-id tie-break); every member joins the nearer seed
    (ties → A).  Child A keeps the original cell id — untouched cells
    and already-ingested references stay valid — and child B gets
    ``max(cell) + 1 + rank`` (rank = the split cell's position among
    the splits, ascending), so new ids are deterministic and
    collision-free.  A cell of identical vectors yields an empty child
    B (nothing CAN split it) rather than looping.

    Returns ``(reassigned, new_cells)``: the full index with updated
    ``cell`` values, and one row per NEW child cell ``(cell, parent,
    n, centroid)`` — centroid = per-dimension exact-DECIMAL mean of the
    members, the row a serving centroid table ingests.  Plan shape:
    split detection is one map-side-combined count; everything after
    runs ONLY on oversized-cell members (semi-join bounded); the
    centroid means are map-side partial aggregates.  Call after each
    incremental ingest wave; cells ≤ cap are never touched or
    recomputed.

    ``exclude_cells`` (cell-scale iterable) marks cells the caller
    KNOWS are unsplittable (all-identical vectors — a two-seed split
    can never shrink them): they are skipped outright, so a caller
    looping splits (:func:`rebalance_cells`) stops burning child ids
    and degenerate new-cell rows on them (r16 advice)."""
    if max_cell_size < 1:
        raise ValueError(
            f"max_cell_size must be >= 1, got {max_cell_size}"
        )
    excl = frozenset(exclude_cells or ())
    spark = assigned.sparkSession
    # Materialize the assignment ONCE (r17 optimization, guide §2.4/§5):
    # this operator references ``assigned`` from ~6 distinct subtrees
    # (size census, member/rest split, both seed fetches, the scoring
    # join), and Catalyst does NOT reuse unexchanged scan subtrees — the
    # pre-change plan re-ran the full scan + centroid-assignment compute
    # 8x per action (plans/r17/q_ivf_cell_split_before.txt: 8 parquet
    # scans, 0 ReusedExchange).  A lazy localCheckpoint (the prune_lm
    # precedent) turns those into cache-block reads: the sizes collect
    # right below materializes it, and the blocks are dropped by the
    # ContextCleaner when the returned frames go out of scope — unlike
    # a bare persist, nothing leaks across a long driver session
    # (rebalance_cells round-1 input would otherwise pin its cache
    # forever).  At index scale this is exactly the materialization a
    # real IVF build performs anyway (the stored index IS the
    # assignment); MEMORY_AND_DISK blocks spill gracefully.  Inputs the
    # caller already persisted (rebalance_cells rounds >= 2) are left
    # alone.
    from pyspark import StorageLevel

    if assigned.storageLevel == StorageLevel.NONE:
        assigned = assigned.localCheckpoint(eager=False)
    sizes = (
        assigned.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )  # cell-scale — aggregate-output-class; also fills the cache
    split_cells = sorted(
        r[cell_col]
        for r in sizes
        if r["__n"] > max_cell_size and r[cell_col] not in excl
    )
    if not split_cells:
        return assigned, assigned.sparkSession.createDataFrame(
            [], f"{cell_col} int, parent int, n long, centroid array<double>"
        )
    base = max(r[cell_col] for r in sizes) + 1
    child_map = spark.createDataFrame(
        [(c, base + i) for i, c in enumerate(split_cells)],
        f"{cell_col} int, __child int",
    )
    members = assigned.join(F.broadcast(child_map), cell_col)
    rest = assigned.join(
        F.broadcast(child_map.select(cell_col)), cell_col, "left_anti"
    )
    v = F.col(vec_col)
    # Seed A: the min-id member (vector fetched by joining back).  The
    # seed frames are cell-scale and the initial plan shows the fetch
    # joins as SMJs — but do NOT broadcast-hint them: forcing the hint
    # measured 2x SLOWER at sf1 (cell_split 7.6 s -> 15.0 s, same-host
    # A/B, r15) because each forced broadcast turns the seed aggregate
    # into its own blocking job subtree, while the unhinted shuffles
    # pipeline with the member table's and AQE can still flip small
    # sides to broadcast at runtime.
    seed_a = members.groupBy(cell_col).agg(F.min(id_col).alias(id_col))
    a_vec = members.join(seed_a, [cell_col, id_col]).select(
        cell_col, F.col(vec_col).alias("__va")
    )
    with_a = members.join(F.broadcast(a_vec), cell_col)
    d1 = F.round(_sqdist(v, F.col("__va")), 6)
    # Seed B: argmax distance-from-A, min-id tie-break — max over
    # struct(d, -id) is exactly that, map-side combined.
    seed_b = (
        with_a.groupBy(cell_col)
        .agg(
            F.max(
                F.struct(
                    d1.alias("d"), (-F.col(id_col)).alias("negid")
                )
            ).alias("__m")
        )
        .select(cell_col, (-F.col("__m.negid")).alias(id_col))
    )
    b_vec = members.join(seed_b, [cell_col, id_col]).select(
        cell_col, F.col(vec_col).alias("__vb")
    )
    scored = with_a.join(F.broadcast(b_vec), cell_col).withColumn(
        "__take_b",
        F.round(_sqdist(v, F.col("__vb")), 6) < d1,
    )
    reassigned_members = scored.withColumn(
        cell_col,
        F.when(F.col("__take_b"), F.col("__child")).otherwise(
            F.col(cell_col)
        ),
    ).select(*assigned.columns)
    reassigned = rest.unionByName(reassigned_members)
    # New-cell centroids: exact-DECIMAL per-dimension means (the
    # mean_pool determinism contract), one row per child cell.
    child_members = reassigned_members.join(
        F.broadcast(child_map.select(F.col("__child").alias(cell_col), F.col(cell_col).alias("parent"))),
        cell_col,
    )
    dims = child_members.select(
        cell_col, "parent", F.posexplode(v).alias("__d", "__x")
    )
    per_dim = dims.groupBy(cell_col, "parent", "__d").agg(
        (
            F.sum(F.col("__x").cast("decimal(28,12)"))
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    new_cells = (
        per_dim.groupBy(cell_col, "parent")
        .agg(
            F.max("__n").alias("n"),
            F.array_sort(
                F.collect_list(F.struct("__d", "__m"))
            ).alias("__dm"),
        )
        .select(
            cell_col,
            "parent",
            "n",
            F.transform("__dm", lambda s: s["__m"]).alias("centroid"),
        )
    )
    return reassigned, new_cells


def rebalance_cells(
    assigned: DataFrame,
    max_cell_size: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    max_rounds: int = 16,
) -> "tuple[DataFrame, DataFrame]":
    """Repeated :func:`split_oversized_cells` until every cell fits (or
    a cell stops shrinking — identical vectors cannot split).  Each
    round at most halves the largest splittable cell, so rounds ~
    log2(max_cell/cap); each round's work is bounded by the still-
    oversized membership.  Returns ``(reassigned, new_cells)`` with the
    new-cell rows accumulated across rounds (later splits of a fresh
    child appear once per id — consumers key on ``cell``)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    spark = assigned.sparkSession
    all_new = spark.createDataFrame(
        [], f"{cell_col} int, parent int, n long, centroid array<double>"
    )
    cur = assigned
    # Cells that stayed the same size through a split round are
    # unsplittable (all-identical vectors: seed A keeps every member —
    # a child can never absorb the whole cell, so "child == parent
    # size" can NEVER fire; r14 advice).  Track them so one degenerate
    # cell beside a splittable one can't re-enter every round until
    # max_rounds burning unused child ids.
    stuck: set = set()
    prev_sizes: dict | None = None
    pending_unpersist = None
    for _ in range(max_rounds):
        sizes = {
            r[cell_col]: r["n"]
            for r in cur.groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # The size scan above materialized cur's persist; the previous
        # round's cache is now safely droppable (r14 advice: each round
        # used to leak its predecessor's cache).
        if pending_unpersist is not None:
            pending_unpersist.unpersist()
            pending_unpersist = None
        if prev_sizes is not None:
            stuck.update(
                c
                for c, n in sizes.items()
                if n > max_cell_size and prev_sizes.get(c) == n
            )
        if all(
            n <= max_cell_size or c in stuck for c, n in sizes.items()
        ):
            break
        prev_sizes = sizes
        prev_cur = cur if cur is not assigned else None
        # Stuck cells are excluded from the split outright (r16
        # advice): without this they re-split every remaining round
        # while other cells converge, burning child ids and appending
        # degenerate new_cells rows.
        cur, new_cells = split_oversized_cells(
            cur, max_cell_size, vec_col=vec_col, id_col=id_col,
            cell_col=cell_col, exclude_cells=stuck,
        )
        # Persist per round: the next round's size scan (and the final
        # consumer) must not replay the whole split chain.
        cur = cur.persist()
        pending_unpersist = prev_cur
        made = new_cells.collect()  # cell-scale
        if not made:
            break  # nothing splittable at all
        all_new = all_new.unionByName(
            spark.createDataFrame(made, all_new.schema)
        )
    # Exits through the 'not made' break or max_rounds exhaustion still
    # hold the previous round's cache (the loop-top drain never ran for
    # it) — drop it here or a long-lived driver session accumulates one
    # cached split layer per rebalance call (r15 review finding).  The
    # consumer's first action re-materializes cur's own persist.
    if pending_unpersist is not None:
        pending_unpersist.unpersist()
    return cur, all_new
