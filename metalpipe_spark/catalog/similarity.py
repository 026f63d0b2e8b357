"""Similarity-search catalog queries over the ``embeddings`` table.

Determinism: dot products fold left-to-right in DOUBLE on both engines
(Spark ``F.aggregate`` / DuckDB ``list_reduce``), similarities rounded to
6 decimals before ordering, total tie-break on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metalpipe_spark.catalog import register
from metalpipe_spark.operators.similarity import (
    brute_force_topk,
    deterministic_centroids,
    deterministic_hyperplanes,
    lsh_neardup_pairs,
    pairwise_topk_per_label,
)
from metalpipe_spark.sources.readers import load_table

# Sequential double fold of a·b (p[1]=left element, p[2]=right element).
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> p[1]::DOUBLE * p[2]::DOUBLE), (acc, x) -> acc + x)"
)


def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


@register(
    "q_ann_brute_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round({_cos('embedding', 'qv')}, 6) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k vs the vec_id=0 query vector (exact baseline).",
)
def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, [float(x) for x in qv], k=10)


@register(
    "q_ann_blocked_knn",
    f"""
    WITH a AS (SELECT label AS blk, vec_id AS d1, embedding AS v1 FROM embeddings),
         b AS (SELECT label AS blk, vec_id AS d2, embedding AS v2 FROM embeddings),
    scored AS (
      SELECT a.blk, d1, d2, round({_cos('v1', 'v2')}, 6) AS cosine_sim
      FROM a JOIN b ON a.blk = b.blk AND d1 <> d2
    ),
    ranked AS (
      SELECT blk, d1, d2, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY d1 ORDER BY cosine_sim DESC, d2) AS rnk
      FROM scored
    )
    SELECT blk, d1, d2, cosine_sim, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY d1, rnk
    """,
    doc="Blocked exact kNN within label blocks (IVF-cell stand-in; block-local join).",
)
def q_ann_blocked_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: the O(B²) pair fold runs on the JOIN'S STREAM SIDE, so
    # a 1-row-group scan serializes the whole quadratic compute onto one
    # task; the spread is per-pair CPU-bound, the opposite trade from
    # the join-shaped TPC-H rows where rebalance loses (readers.py).
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return pairwise_topk_per_label(emb, k=3, dim=64).orderBy("d1", "rnk")


@register(
    "q_ann_blocked_knn_gemm",
    # Value-hash oracle over INTEGER columns only: the GEMM path ranks on
    # the 6-decimal-quantized similarity with an ascending-id tie-break
    # (same order as the exact twin's window), so (blk, d1, d2, rnk) is
    # engine-reproducible even though raw BLAS sums differ from the SQL
    # fold in the last ulps.  The float column stays out of the compare;
    # value parity of cosine_sim itself is tolerance-tested in
    # tests/test_scale_utils.py.
    f"""
    WITH a AS (SELECT label AS blk, vec_id AS d1, embedding AS v1 FROM embeddings),
         b AS (SELECT label AS blk, vec_id AS d2, embedding AS v2 FROM embeddings),
    scored AS (
      SELECT a.blk, d1, d2, round({_cos('v1', 'v2')}, 6) AS cosine_sim
      FROM a JOIN b ON a.blk = b.blk AND d1 <> d2
    ),
    ranked AS (
      SELECT blk, d1, d2,
             ROW_NUMBER() OVER (PARTITION BY d1 ORDER BY cosine_sim DESC, d2) AS rnk
      FROM scored
    )
    SELECT blk, d1, d2, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY d1, rnk
    """,
    doc=(
        "Blocked exact kNN via per-cell GEMM (applyInPandas + BLAS) — the "
        "vectorized scale path; identical (d1, d2, rnk) output to "
        "q_ann_blocked_knn (quantized-rank contract)."
    ),
)
def q_ann_blocked_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import pairwise_topk_per_label_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pairwise_topk_per_label_gemm(emb, k=3)
        .select("blk", "d1", "d2", "rnk")
        .orderBy("d1", "rnk")
    )


# Fold helper where the right operand is already DOUBLE[] (literal
# centroid column) — mirrors Spark's cast-once-then-multiply order.
_DOT_D = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> p[1]::DOUBLE * p[2]), (acc, x) -> acc + x)"
)


def _lit_vec(vec: list[float]) -> str:
    """DuckDB literal DOUBLE[] via string casts — string→double parse is
    correctly rounded in both engines, so the inlined matrix is the SAME
    doubles Spark's ``1.23D`` literals parse to (a bare decimal literal
    would go through DECIMAL and can lose the last ulp)."""
    return "[" + ", ".join(f"'{float(v)!r}'::DOUBLE" for v in vec) + "]"


def _ivf_oracle(
    centroids: list[list[float]], n_probe: int, k: int, n_queries: int
) -> str:
    """Pure-SQL replay of the prebuilt-IVF serving path: literal-centroid
    assignment (argmin of |c|² − 2·v·c/|v|, ascending-cell tie-break),
    per-query multi-probe cell ranking, exact cosine inside probed cells,
    quantized-rank top-k.  Bit-parity with the Spark plan everywhere it
    matters: assignment/probe scores use the identical left fold, and the
    compared columns are integers ranked over round(sim, 6)."""
    cent_rows = ", ".join(
        f"({j}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for j, c in enumerate(centroids)
    )
    dot_cv = _DOT_D.format(a="c.embedding", b="t.cv")
    dot_qcv = _DOT_D.format(a="a.embedding", b="t.cv")
    return f"""
    WITH cent(cell, cn2, cv) AS (VALUES {cent_rows}),
    corpus AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, embedding, nrm, cell FROM (
        SELECT c.vec_id, c.embedding, c.nrm, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_cv}) / c.nrm, t.cell
               ) AS arnk
        FROM corpus c CROSS JOIN cent t
      ) WHERE arnk = 1
    ),
    qprobe AS (
      SELECT query_id, qv, qn, cell FROM (
        SELECT a.vec_id AS query_id, a.embedding AS qv, a.nrm AS qn, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_qcv}) / a.nrm, t.cell
               ) AS prnk
        FROM corpus a CROSS JOIN cent t
        WHERE a.vec_id < {n_queries}
      ) WHERE prnk <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(({_DOT.format(a='p.qv', b='a.embedding')}) / (p.qn * a.nrm), 6) AS cs
      FROM qprobe p JOIN assigned a ON p.cell = a.cell
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


_IVF_CENTS = None


def _ivf_cents() -> list[list[float]]:
    global _IVF_CENTS
    if _IVF_CENTS is None:
        _IVF_CENTS = deterministic_centroids(8, 64)
    return _IVF_CENTS


@register(
    "q_ann_ivf_topk",
    _ivf_oracle(deterministic_centroids(8, 64), n_probe=2, k=5, n_queries=10),
    doc=(
        "IVF serving path over a prebuilt literal centroid set: map-side "
        "nearest-centroid assignment (no shuffle), multi-probe cell "
        "ranking (centroids as plan literals), cogrouped BLAS scoring "
        "per cell, one window for the global top-k.  Integer-only "
        "compare columns ranked over the quantized similarity.  The "
        "LEARNED-centroid twin (spherical k-means, ivf_topk) is "
        "recall-tested in tests/test_scale_utils.py — k-means output is "
        "not SQL-replayable, the serving path is."
    ),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        ivf_assign_literal,
        ivf_search_prebuilt,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_cents()
    assigned = ivf_assign_literal(emb, cents)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_search_prebuilt((assigned, cents), qs, k=5, n_probe=2)
    return out.select("query_id", "vec_id", "rnk").orderBy("query_id", "rnk")


def _lsh_oracle(num_planes: int = 8, dim: int = 64, threshold: float = 0.9) -> str:
    planes = deterministic_hyperplanes(num_planes, dim)
    bit_terms = " + ".join(
        f"(CASE WHEN {_DOT.format(a='embedding', b='[' + ', '.join(str(x) for x in h) + ']')} >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, h in enumerate(planes)
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding, ({bit_terms}) AS bucket FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           round({_cos('a.embedding', 'b.embedding')}, 6) AS cosine_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_cos('a.embedding', 'b.embedding')}, 6) >= {threshold}
    ORDER BY d1, d2
    """


@register(
    "q_embed_neardup_lsh",
    # Threshold 0.25: the synthetic embeddings are near-orthogonal (max
    # all-pairs cosine ≈ 0.51 at sf0.01), so a production-style 0.9
    # threshold returns zero rows — a trivially-passing check.  0.25
    # yields a real result set through the 8-plane buckets.
    _lsh_oracle(8, 64, 0.25),
    doc="Embedding-cosine near-dup via hyperplane LSH buckets; exact cosine verify inside buckets.",
)
def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return lsh_neardup_pairs(emb, num_planes=8, dim=64, threshold=0.25).orderBy("d1", "d2")


@register(
    "q_ann_batch_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round({_cos('e.embedding', 'q.qv')}, 6) AS cosine_sim
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
             ) AS rnk
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc=(
        "Batched serving-path ANN: broadcast query set scores map-side "
        "over one corpus scan; only the per-query top-k window shuffles."
    ),
)
def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import brute_force_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk_batch(emb, qs, k=5).orderBy("query_id", "rnk")


def _semdedup_oracle(
    centroids: list[list[float]],
    threshold: float,
    where: str = "",
    source: str = "embeddings",
    prelude: str = "",
) -> str:
    """Pure-SQL replay of semantic_dedup: literal-centroid assignment
    (same argmin + ascending-cell tie-break as the IVF oracle), within-
    cell pair cosine at 6 decimals, drop-if-lower-id-neardup, survivors
    re-tagged with their cell.  ``source`` names the (vec_id,
    embedding) relation; ``prelude`` injects the CTEs that define it
    (e.g. the embed replay for an end-to-end embed→semdedup row)."""
    cent_rows = ", ".join(
        f"({j}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for j, c in enumerate(centroids)
    )
    dot_cv = _DOT_D.format(a="c.embedding", b="t.cv")
    dot_ab = _DOT.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH {prelude}cent(cell, cn2, cv) AS (VALUES {cent_rows}),
    corpus AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM {source} {where}
    ),
    assigned AS (
      SELECT vec_id, embedding, nrm, cell FROM (
        SELECT c.vec_id, c.embedding, c.nrm, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_cv}) / c.nrm, t.cell
               ) AS arnk
        FROM corpus c CROSS JOIN cent t
      ) WHERE arnk = 1
    ),
    losers AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(({dot_ab}) / (a.nrm * b.nrm), 6) >= {threshold}
    )
    SELECT a.vec_id, a.cell FROM assigned a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
    ORDER BY a.vec_id
    """


@register(
    "q_semdedup",
    # Same 0.25 threshold rationale as q_embed_neardup_lsh: the synthetic
    # embeddings are near-orthogonal, so a production 0.9 threshold would
    # drop nothing and the row would be a trivially-passing check.
    # Anchor fixture is the vec_id % 3 = 0 THIRD of the corpus: the
    # oracle needs exactness, not a large cell population — the B^2
    # interpreted fold runs on ~9x fewer within-cell pairs, while the
    # GEMM production twin (q_semdedup_gemm) covers the FULL corpus and
    # the operator-level survivor-set equality test keeps the two paths
    # pinned to each other on identical inputs.
    _semdedup_oracle(
        deterministic_centroids(8, 64),
        threshold=0.25,
        where="WHERE vec_id % 3 = 0",
    ),
    doc=(
        "SemDeDup-style semantic dedup (arXiv:2303.09540): nearest-"
        "centroid cells bound the candidate space (map-side assignment, "
        "one equi-join on cell — never all-pairs), within-cell cosine "
        "pairs above threshold mark lower-id-wins losers, survivors "
        "left_anti out.  The learned-centroid production twin reuses "
        "ivf_assign's spherical k-means; this row serves the fixed-"
        "centroid path so the whole pipeline is SQL-replayable."
    ),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        ivf_assign_literal,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).where(
        F.col("vec_id") % 3 == 0
    )
    cents = _ivf_cents()
    kept = semantic_dedup(
        emb.select("vec_id", "embedding"), cents, threshold=0.25
    )
    return (
        ivf_assign_literal(kept, cents)
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )


def _inc_semdedup_oracle(
    centroids: list[list[float]], threshold: float
) -> str:
    """SQL replay of incremental_semantic_dedup: even vec_ids form the
    accumulated store, odd vec_ids arrive as the new batch; in-batch
    keep-min-id within cells first, then drop batch survivors with a
    stored near-dup in their cell."""
    cent_rows = ", ".join(
        f"({j}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for j, c in enumerate(centroids)
    )
    dot_cv = _DOT_D.format(a="c.embedding", b="t.cv")

    def cos(a: str, b: str) -> str:
        return (
            f"round(({_DOT.format(a=a + '.embedding', b=b + '.embedding')})"
            f" / ({a}.nrm * {b}.nrm), 6)"
        )

    return f"""
    WITH cent(cell, cn2, cv) AS (VALUES {cent_rows}),
    corpus AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, embedding, nrm, cell FROM (
        SELECT c.vec_id, c.embedding, c.nrm, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_cv}) / c.nrm, t.cell
               ) AS arnk
        FROM corpus c CROSS JOIN cent t
      ) WHERE arnk = 1
    ),
    old AS (SELECT * FROM assigned WHERE vec_id % 2 = 0),
    batch AS (SELECT * FROM assigned WHERE vec_id % 2 = 1),
    batch_losers AS (
      SELECT DISTINCT b.vec_id
      FROM batch a JOIN batch b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos('a', 'b')} >= {threshold}
    ),
    surv AS (
      SELECT * FROM batch
      WHERE vec_id NOT IN (SELECT vec_id FROM batch_losers)
    ),
    cross_hits AS (
      SELECT DISTINCT s.vec_id
      FROM surv s JOIN old o ON s.cell = o.cell
      WHERE {cos('s', 'o')} >= {threshold}
    )
    SELECT s.vec_id, s.cell FROM surv s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM cross_hits)
    ORDER BY s.vec_id
    """


@register(
    "q_incremental_semdedup",
    _inc_semdedup_oracle(deterministic_centroids(8, 64), threshold=0.25),
    doc=(
        "Incremental semantic dedup: a new batch (odd vec_ids) dedups "
        "against the accumulated store (even vec_ids) — in-batch keep-"
        "min-id within centroid cells, then an equi-join on cell against "
        "the store drops batch docs with a stored cosine near-dup.  "
        "Completes the incremental family (exact / MinHash-LSH / "
        "embedding)."
    ),
)
def q_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        cell_store,
        incremental_semantic_dedup,
        ivf_assign_literal,
    )

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select("vec_id", "embedding")
    cents = _ivf_cents()
    store = cell_store(emb.where(F.col("vec_id") % 2 == 0), cents)
    fresh, _ = incremental_semantic_dedup(
        emb.where(F.col("vec_id") % 2 == 1),
        store,
        cents,
        threshold=0.25,
    )
    return (
        ivf_assign_literal(fresh, cents)
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )


@register(
    "q_incremental_semdedup_scaled",
    None,  # learned centroid table: rows-only (the ivf_assign caveat)
    doc=(
        "Incremental semantic dedup with CORPUS-SCALED learned cells — "
        "the 100 TB incremental entry point (round 13): "
        "fit_semantic_cells sizes k to the expected corpus and persists "
        "the centroid TABLE next to the store; each batch assigns "
        "map-side against the broadcast matrix, dedups in-batch per "
        "cell (shared BLAS keep-min-id kernel), and drops rows the "
        "accumulated store matches (cogrouped GEMM) — per-batch cost "
        "stays O(batch x target_cell_size) as the store grows, where "
        "the fixed-centroid twin grows with corpus history.  Store and "
        "batch carry the geometry fingerprint (cgen); mismatched "
        "geometries are refused mechanically.  Deterministic for the "
        "pinned seed; structure pinned by "
        "test_incremental_semantic_dedup_scaled_batches."
    ),
)
def q_incremental_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        fit_semantic_cells,
        incremental_semantic_dedup_scaled,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = fit_semantic_cells(
        emb, target_cell_size=256, fit_fraction=0.5, seed=42, max_iter=2
    )
    store = None
    fresh_parts = []
    # Two arrival waves (even ids, then odd) — the accumulate-and-dedup
    # lifecycle, not a one-shot split.
    for parity in (0, 1):
        batch = emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == parity)
        fresh, store = incremental_semantic_dedup_scaled(
            batch, store, cells, threshold=0.25
        )
        fresh_parts.append(fresh.select("vec_id"))
        # No store re-checkpoint here: the operator already
        # materialized surv_sigs, so wave 1's store (== surv_sigs) is
        # checkpoint-backed and an extra eager copy is a redundant
        # corpus-scale job; wave 2's updated store is never consumed
        # (the row returns fresh ids only).
    return fresh_parts[0].unionByName(fresh_parts[1]).orderBy("vec_id")


@register(
    "q_semdedup_gemm",
    # Same oracle as q_semdedup: the GEMM twin's survivor set matches the
    # exact fold everywhere except pairs whose raw cosine sits within an
    # ulp of the 6-decimal rounding boundary (see the operator docstring;
    # equality with the exact twin is also asserted in tests).
    _semdedup_oracle(deterministic_centroids(8, 64), threshold=0.25),
    doc=(
        "Production path for semantic dedup: per-cell BLAS cosine "
        "matrix in row chunks (applyInPandas, memory O(chunk x B)), "
        "keep-min-id decided over the quantized similarity — dense "
        "linear algebra instead of B^2 interpreted array folds."
    ),
)
def q_semdedup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        ivf_assign_literal,
        semantic_dedup_gemm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_cents()
    kept = semantic_dedup_gemm(
        emb.select("vec_id", "embedding"), cents, threshold=0.25
    )
    return (
        ivf_assign_literal(kept, cents)
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )


def _mean_pool_oracle(dim: int) -> str:
    elems = ", ".join(
        f"round(sum(embedding[{i + 1}]::DECIMAL(28,12))::DOUBLE / count(*), 6)"
        f" AS m{i}"
        for i in range(dim)
    )
    return f"""
    SELECT label, {elems}
    FROM embeddings GROUP BY label ORDER BY label
    """


@register(
    "q_mean_pool",
    _mean_pool_oracle(64),
    doc=(
        "Mean-pool embeddings per label (the chunk->document embedding "
        "aggregation): each dimension is its own SUM aggregate, so "
        "partial sums combine map-side and the one exchange carries "
        "groups x dim scalars, never row-scale data.  Exact mode "
        "accumulates in DECIMAL(28,12) — order-independent, the money-"
        "aggregation rule — so the oracle hash is reproducible.  The "
        "catalog surface flattens the vector to scalar columns (same "
        "hashability rule as q_minhash_signatures); the operator keeps "
        "its array form for downstream ANN/semantic-dedup composition."
    ),
)
def q_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import mean_pool_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    pooled = mean_pool_embeddings(emb, "label", dim=64, exact=True)
    return pooled.select(
        "label",
        *[
            F.round(F.col("mean_embedding")[i], 6).alias(f"m{i}")
            for i in range(64)
        ],
    ).orderBy("label")


def _pq_adc_ctes(
    codebooks: list[list[list[float]]], n_queries: int
) -> str:
    """CTE chain replaying PQ encode → ADC distance → quantized rank,
    ending in ``ranked(query_id, vec_id, rnk)`` — shared by the ADC
    top-k row and the exact-rerank row so the shortlist both rank can
    never drift from the codebook literals or the fold order."""
    d_sub = len(codebooks[0][0])
    cb_rows = ", ".join(
        f"({s}, {code}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for s, book in enumerate(codebooks)
        for code, c in enumerate(book)
    )
    fold = _DOT_D.format(
        a=f"list_slice(embedding, t.sub * {d_sub} + 1, t.sub * {d_sub} + {d_sub})",
        b="t.cv",
    )
    return f"""cb(sub, code, cn2, cv) AS (VALUES {cb_rows}),
    enc AS (
      SELECT vec_id, sub, code FROM (
        SELECT c.vec_id, t.sub, t.code,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id, t.sub
                 ORDER BY t.cn2 - 2.0 * ({fold.replace('embedding', 'c.embedding')}), t.code
               ) AS rn
        FROM embeddings c CROSS JOIN cb t
      ) WHERE rn = 1
    ),
    qlut AS (
      SELECT q.vec_id AS query_id, t.sub, t.code,
             t.cn2 - 2.0 * ({fold.replace('embedding', 'q.embedding')}) AS d2
      FROM embeddings q CROSS JOIN cb t
      WHERE q.vec_id < {n_queries}
    ),
    dist AS (
      SELECT l.query_id, e.vec_id,
             list_reduce(list(l.d2 ORDER BY l.sub), (acc, x) -> acc + x) AS d
      FROM enc e JOIN qlut l ON e.sub = l.sub AND e.code = l.code
      GROUP BY l.query_id, e.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY round(d, 6), vec_id
             ) AS rnk
      FROM dist
    )"""


def _pq_oracle(
    codebooks: list[list[list[float]]], k: int, n_queries: int
) -> str:
    """Pure-SQL replay of the PQ encode → ADC → top-k path: literal
    codebooks, per-(vector, subspace) argmin with ascending-code
    tie-break, per-query ADC lookup tables, and the ADC distance as a
    ``list_reduce`` over the subspace terms IN SUB ORDER — the same
    left-associated fold Spark's ``F.aggregate`` runs, so every
    distance is bit-identical before the round(…, 6) rank."""
    return f"""
    WITH {_pq_adc_ctes(codebooks, n_queries)}
    SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


def _pq_rerank_oracle(
    codebooks: list[list[list[float]]], shortlist: int, k: int, n_queries: int
) -> str:
    """The two-stage serving replay: the shared ADC CTEs produce the
    quantized shortlist (rnk <= shortlist), then raw vectors re-rank it
    by exact squared L2 — a squared-diff fold elementwise-identical to
    Spark's ``(x-y)*(x-y)`` aggregate, same round(…, 6)/id rank
    contract as every ANN row."""
    sqd = (
        "list_reduce(list_transform(list_zip(c.embedding, q.embedding),"
        " p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)),"
        " (acc, x) -> acc + x)"
    )
    return f"""
    WITH {_pq_adc_ctes(codebooks, n_queries)},
    short AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= {shortlist}),
    ex AS (
      SELECT s.query_id, s.vec_id, {sqd} AS d2
      FROM short s
      JOIN embeddings c ON c.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    ),
    rr AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY round(d2, 6), vec_id
             ) AS rnk
      FROM ex
    )
    SELECT query_id, vec_id, rnk FROM rr WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


_PQ_BOOKS = None


def _pq_books() -> list[list[list[float]]]:
    global _PQ_BOOKS
    if _PQ_BOOKS is None:
        from metalpipe_spark.operators.pq import deterministic_pq_codebooks

        _PQ_BOOKS = deterministic_pq_codebooks(8, 16, 64)
    return _PQ_BOOKS


@register(
    "q_ann_pq_topk",
    _pq_oracle(_pq_books(), k=5, n_queries=10),
    doc=(
        "Product-quantization ADC top-k (Jegou et al. 2011): vectors "
        "compress to 8 subspace codes (8 bytes instead of 256), queries "
        "precompute per-subspace lookup tables, and each (query, "
        "vector) distance is 8 table lookups — never a 64-wide dot.  "
        "Corpus side streams codes through a broadcast of the query "
        "LUTs; one window for the top-k.  The deterministic literal "
        "codebooks make the whole encode -> ADC -> rank path replay in "
        "DuckDB (a learned codebook would train per-subspace k-means on "
        "a sample and keep this serving path unchanged).  The BLAS "
        "encode twin (pq_encode_gemm) is equality-tested in units."
    ),
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.pq import pq_adc_topk, pq_encode

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)  # encode is scan-stage CPU
    books = _pq_books()
    enc = pq_encode(emb.select("vec_id", "embedding"), books)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(enc, qs, books, k=5).orderBy("query_id", "rnk")


@register(
    "q_ann_pq_rerank",
    _pq_rerank_oracle(_pq_books(), shortlist=50, k=5, n_queries=10),
    doc=(
        "Two-stage PQ serving (Jegou et al. 2011 SV.C): the 8-byte ADC "
        "codes SHORTLIST 50 candidates per query, then raw vectors are "
        "fetched for those rows only (broadcast-probe, never a corpus "
        "shuffle) and re-ranked by exact squared L2.  Measured at sf1: "
        "raw ADC holds recall@10 but not recall@1 (quantization cannot "
        "separate near-clone families); the exact re-rank recovers "
        "recall@1 >= 0.9 for queries x shortlist extra folds "
        "(SCALING.md r10)."
    ),
)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.pq import adc_rerank, pq_adc_topk, pq_encode

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    books = _pq_books()
    enc = pq_encode(emb.select("vec_id", "embedding"), books)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    short = pq_adc_topk(enc, qs, books, k=50)
    return adc_rerank(short, emb, qs, k=5).orderBy("query_id", "rnk")


def _ivfadc_oracle(
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int,
    k: int,
    n_queries: int,
) -> str:
    """Pure-SQL replay of IVFADC: the _ivf_oracle's literal-centroid
    assignment + multi-probe CTEs bound the candidate pairs, the
    _pq_oracle's encode + LUT CTEs price them, and the ADC distance is
    the same sub-ordered list_reduce fold Spark runs."""
    d_sub = len(codebooks[0][0])
    cent_rows = ", ".join(
        f"({j}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for j, c in enumerate(centroids)
    )
    cb_rows = ", ".join(
        f"({s}, {code}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for s, book in enumerate(codebooks)
        for code, c in enumerate(book)
    )
    dot_cv = _DOT_D.format(a="c.embedding", b="t.cv")
    dot_qcv = _DOT_D.format(a="a.embedding", b="t.cv")
    pq_fold = _DOT_D.format(
        a=f"list_slice(embedding, t.sub * {d_sub} + 1, t.sub * {d_sub} + {d_sub})",
        b="t.cv",
    )
    return f"""
    WITH cent(cell, cn2, cv) AS (VALUES {cent_rows}),
    cb(sub, code, scn2, cv) AS (VALUES {cb_rows}),
    corpus AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_cv}) / c.nrm, t.cell
               ) AS arnk
        FROM corpus c CROSS JOIN cent t
      ) WHERE arnk = 1
    ),
    qprobe AS (
      SELECT query_id, cell FROM (
        SELECT a.vec_id AS query_id, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_qcv}) / a.nrm, t.cell
               ) AS prnk
        FROM corpus a CROSS JOIN cent t
        WHERE a.vec_id < {n_queries}
      ) WHERE prnk <= {n_probe}
    ),
    enc AS (
      SELECT vec_id, sub, code FROM (
        SELECT c.vec_id, t.sub, t.code,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id, t.sub
                 ORDER BY t.scn2 - 2.0 * ({pq_fold.replace('embedding', 'c.embedding')}), t.code
               ) AS rn
        FROM embeddings c CROSS JOIN cb t
      ) WHERE rn = 1
    ),
    qlut AS (
      SELECT q.vec_id AS query_id, t.sub, t.code,
             t.scn2 - 2.0 * ({pq_fold.replace('embedding', 'q.embedding')}) AS d2
      FROM embeddings q CROSS JOIN cb t
      WHERE q.vec_id < {n_queries}
    ),
    pairs AS (
      SELECT p.query_id, a.vec_id
      FROM qprobe p JOIN assigned a ON p.cell = a.cell
    ),
    dist AS (
      SELECT pr.query_id, pr.vec_id,
             list_reduce(list(l.d2 ORDER BY l.sub), (acc, x) -> acc + x) AS d
      FROM pairs pr
      JOIN enc e ON pr.vec_id = e.vec_id
      JOIN qlut l ON l.query_id = pr.query_id
                 AND l.sub = e.sub AND l.code = e.code
      GROUP BY pr.query_id, pr.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY round(d, 6), vec_id
             ) AS rnk
      FROM dist
    )
    SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register(
    "q_ann_ivfadc",
    _ivfadc_oracle(
        deterministic_centroids(8, 64), _pq_books(), n_probe=2, k=5, n_queries=10
    ),
    doc=(
        "IVFADC - the production ANN serving stack (Jegou et al. 2011 "
        "SIV): IVF cells bound WHICH candidates a query meets (multi-"
        "probe over literal centroids, map-side), PQ codes bound what "
        "each meeting COSTS (8 LUT lookups, never a 64-wide dot).  The "
        "stored index is (cell, vec_id, codes) - raw vectors untouched "
        "at serve time; queries broadcast with their LUTs and the only "
        "shuffle is the final per-query top-k window.  Both stages' "
        "literal artifacts make the whole path DuckDB-replayable."
    ),
)
def q_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.pq import ivfadc_topk, pq_encode
    from metalpipe_spark.operators.similarity import ivf_assign_literal

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)  # assign+encode are scan-stage CPU
    cents = _ivf_cents()
    books = _pq_books()
    index = pq_encode(
        ivf_assign_literal(emb, cents).select("cell", "vec_id", "embedding"),
        books,
    )
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfadc_topk(index, qs, cents, books, k=5, n_probe=2).orderBy(
        "query_id", "rnk"
    )


def _target_centroid_oracle(dim: int) -> str:
    cent = ", ".join(
        f"round(sum(embedding[{i + 1}]::DECIMAL(28,12))::DOUBLE / count(*), 6)"
        for i in range(dim)
    )
    return f"""
    WITH c AS (
      SELECT [{cent}] AS cent FROM embeddings WHERE label = 0
    )
    SELECT vec_id, round({_cos('embedding', 'cent')}, 6) AS target_cosine
    FROM embeddings, c
    ORDER BY vec_id
    """


@register(
    "q_target_similarity",
    _target_centroid_oracle(64),
    doc=(
        "Embedding-based domain scoring (nearest-centroid proxy for "
        "classifier filtering): the label-0 seed set mean-pools into "
        "ONE centroid row (map-side-combined per-dim sums, decimal-"
        "exact, 6-dp rounded) that broadcasts over the corpus; each "
        "vector scores with a codegen HOF cosine fold — no corpus "
        "shuffle, parquet-scan speed at 100 TB."
    ),
)
def q_target_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import target_centroid_scores

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        target_centroid_scores(
            emb, emb.where(F.col("label") == 0), dim=64, exact=True
        )
        .select("vec_id", F.round("target_cosine", 6).alias("target_cosine"))
        .orderBy("vec_id")
    )


@register(
    "q_embed_quantize",
    """
    WITH ext AS (
      SELECT min(x) AS lo, max(x) AS hi
      FROM (SELECT unnest(embedding)::DOUBLE AS x FROM embeddings)
    ),
    el AS (
      SELECT vec_id, (u.i - 1)::INT AS d,
             embedding[u.i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    q AS (
      SELECT vec_id, d,
             -- hi = lo guard mirrors the engine's scale = 0.0 branch
             -- (all-zero codes on a constant corpus); without it DuckDB
             -- divides by zero into inf/NaN codes (r14 advice)
             CASE WHEN hi = lo THEN 0 ELSE
               GREATEST(0, LEAST(255,
                 floor((v - lo) * (255 / (hi - lo)) + 0.5)::INT))
             END AS code,
             lo, hi
      FROM el, ext
    )
    SELECT vec_id, d, code,
           round(lo + code * ((hi - lo) / 255), 9) AS vhat
    FROM q
    ORDER BY vec_id, d
    """,
    doc=(
        "Scalar int8 quantization of the embeddings table (the faiss "
        "SQ8 layout — PQ's codebook-free sibling, 4x smaller than "
        "float32): affine grid from the corpus-wide element min/max, "
        "half-up codes, geometry columns riding along so the decode "
        "grid can never mismatch; codes AND reconstructed values "
        "hash-gated."
    ),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.pq import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    deq = dequantize_embeddings(quantize_embeddings(emb, bits=8))
    return (
        deq.select(
            "vec_id",
            F.posexplode(F.arrays_zip("codes", "dequantized")).alias(
                "d", "__z"
            ),
        )
        .select(
            "vec_id",
            "d",
            F.col("__z.codes").alias("code"),
            F.round(F.col("__z.dequantized"), 9).alias("vhat"),
        )
        .orderBy("vec_id", "d")
    )


_SQD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)),"
    " (acc, x) -> acc + x)"
)

_SPLIT_CAP = 150


def _split_ctes(centroids: list[list[float]], cap: int) -> str:
    """The shared CTE body replaying split_oversized_cells over the
    fixed-centroid assignment: min-id seed A, farthest-rounded seed B
    (min-id ties), nearer-seed reassignment (ties -> A), child id =
    max(cell) + 1 + split rank.  Ends at ``current(vec_id, cell)`` —
    the post-split index — so both the split row and the composed
    maintain->search row build on one definition (a replay-rule change
    can never desynchronize them)."""
    cent_rows = ", ".join(
        f"({j}, '{float(sum(x * x for x in c))!r}'::DOUBLE, {_lit_vec(c)})"
        for j, c in enumerate(centroids)
    )
    dot_cv = _DOT_D.format(a="c.embedding", b="t.cv")
    return f"""cent(cell, cn2, cv) AS (VALUES {cent_rows}),
    corpus AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT c.vec_id, c.embedding, t.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY t.cn2 - 2.0 * ({dot_cv}) / c.nrm, t.cell
               ) AS arnk
        FROM corpus c CROSS JOIN cent t
      ) WHERE arnk = 1
    ),
    sizes AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell),
    splits AS (
      SELECT cell, row_number() OVER (ORDER BY cell) - 1 AS rnk
      FROM sizes WHERE n > {cap}
    ),
    childm AS (
      SELECT s.cell, (SELECT max(cell) FROM assigned) + 1 + s.rnk AS child
      FROM splits s
    ),
    mem AS (
      SELECT a.vec_id, a.embedding, a.cell, c.child
      FROM assigned a JOIN childm c USING (cell)
    ),
    seeda AS (SELECT cell, min(vec_id) AS vid FROM mem GROUP BY cell),
    av AS (
      SELECT m.cell, m.embedding AS va
      FROM mem m JOIN seeda s ON m.cell = s.cell AND m.vec_id = s.vid
    ),
    d1t AS (
      SELECT m.vec_id, m.embedding, m.cell, m.child,
             round({_SQD.format(a='m.embedding', b='av.va')}, 6) AS d1
      FROM mem m JOIN av USING (cell)
    ),
    seedb AS (
      SELECT cell, vec_id FROM (
        SELECT cell, vec_id,
               row_number() OVER (
                 PARTITION BY cell ORDER BY d1 DESC, vec_id ASC
               ) AS rn
        FROM d1t
      ) WHERE rn = 1
    ),
    bv AS (
      SELECT m.cell, m.embedding AS vb
      FROM mem m JOIN seedb s ON m.cell = s.cell AND m.vec_id = s.vec_id
    ),
    moved AS (
      SELECT d.vec_id,
             CASE WHEN round({_SQD.format(a='d.embedding', b='bv.vb')}, 6) < d.d1
                  THEN d.child ELSE d.cell END AS cell
      FROM d1t d JOIN bv USING (cell)
    ),
    current AS (
      SELECT vec_id, cell FROM moved
      UNION ALL
      SELECT vec_id, cell FROM assigned
      WHERE cell NOT IN (SELECT cell FROM splits)
    )"""


def _split_cells_oracle(centroids: list[list[float]], cap: int) -> str:
    return f"""
    WITH {_split_ctes(centroids, cap)}
    SELECT vec_id, cell FROM current
    ORDER BY vec_id
    """


@register(
    "q_ivf_cell_split",
    _split_cells_oracle(deterministic_centroids(4, 64), _SPLIT_CAP),
    doc=(
        "IVF index maintenance: cells over the size cap split by the "
        "deterministic two-seed rule (min-id seed, farthest second "
        "seed, nearer-seed reassignment) — the re-balance step that "
        "keeps an incrementally-growing index cell-bounded instead of "
        "degrading to brute force; full assignment replayed in SQL."
    ),
)
def q_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        ivf_assign_literal,
        split_oversized_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign_literal(emb, deterministic_centroids(4, 64)).select(
        "vec_id", "embedding", "cell"
    )
    reassigned, _ = split_oversized_cells(assigned, _SPLIT_CAP)
    return reassigned.select("vec_id", "cell").orderBy("vec_id")


def _maintain_search_oracle(
    centroids: list[list[float]], cap: int, k: int, n_queries: int
) -> str:
    return f"""
    WITH {_split_ctes(centroids, cap)},
    dmap AS (
      SELECT cell AS parent, cell FROM cent
      UNION ALL
      SELECT cell AS parent, child AS cell FROM childm
    ),
    qs AS (
      SELECT a.vec_id AS query_id, a.embedding AS qv, c.nrm AS qn,
             a.cell AS parent
      FROM assigned a JOIN corpus c USING (vec_id)
      WHERE a.vec_id < {n_queries}
    ),
    cand AS (
      SELECT q.query_id, cur.vec_id,
             round(({_DOT.format(a='q.qv', b='e.embedding')})
                   / (q.qn * e.nrm), 6) AS cs
      FROM qs q
      JOIN dmap d ON d.parent = q.parent
      JOIN current cur ON cur.cell = d.cell
      JOIN corpus e ON e.vec_id = cur.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cs DESC, vec_id
             ) AS rnk
      FROM cand
    )
    SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= {k}
    ORDER BY query_id, rnk
    """


@register(
    "q_ivf_maintain_search",
    _maintain_search_oracle(
        deterministic_centroids(4, 64), _SPLIT_CAP, k=3, n_queries=10
    ),
    doc=(
        "The composed IVF maintenance lifecycle, end-to-end (VERDICT "
        "r14 task 7): assign (literal centroids) -> split oversized "
        "cells -> SERVE through ivf_search_split, which probes each "
        "query's nearest ORIGINAL centroid and searches every current "
        "cell descended from it.  Because a split only partitions a "
        "parent's members, the descendant probe scans exactly the "
        "pre-split membership — maintenance preserves serving recall "
        "BY CONSTRUCTION, and the equality against the unsplit 1-probe "
        "answer is pinned in tests/test_scale_utils.py.  The oracle "
        "replays assignment, the two-seed split AND the search (shared "
        "CTE body with q_ivf_cell_split); integer-only compare columns "
        "ranked over the quantized cosine."
    ),
)
def q_ivf_maintain_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metalpipe_spark.operators.similarity import (
        ivf_assign_literal,
        ivf_search_split,
        split_oversized_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(4, 64)
    assigned = ivf_assign_literal(emb, cents).select(
        "vec_id", "embedding", "cell"
    )
    reassigned, new_cells = split_oversized_cells(assigned, _SPLIT_CAP)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_search_split((reassigned, new_cells, cents), qs, k=3)
    return out.select("query_id", "vec_id", "rnk").orderBy("query_id", "rnk")
