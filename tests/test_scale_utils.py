"""Scale-utility tests: salted joins match plain joins; bucketed tables
join without an exchange; the monitor records actions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.monitoring import EngineMonitor
from metalpipe_spark.operators.skew import salted_join
from metalpipe_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, "o_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").cast("decimal(24,2)").alias("s")
    ).head()
    salted = salted_join(orders, cust, "o_custkey", buckets=4).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").cast("decimal(24,2)").alias("s")
    ).head()
    assert plain["n"] == salted["n"]
    assert plain["s"] == salted["s"]


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], ["k", "v"])
    right = spark.createDataFrame([(1, "X"), (2, "Y")], ["k", "w"])
    out = salted_join(left, right, "k", buckets=3, how="left").collect()
    assert len(out) == 3
    assert {r["k"]: r["w"] for r in out}[99] is None


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Pre-bucketed tables co-locate the join: neither side exchanges.
    This is the 100 TB co-location strategy (SURVEY §7.1.7) verified on
    the local catalog."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.withColumnRenamed("l_orderkey", "o_orderkey").write.bucketBy(8, "o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.split("AdaptiveSparkPlan")[-1] or "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_engine_monitor_records(spark):
    mon = EngineMonitor()
    n = mon.timed("count_nation", lambda: load_table(spark, SF_SMOKE, "nation").count())
    assert n == 25
    with pytest.raises(ValueError):
        mon.timed("boom", lambda: (_ for _ in ()).throw(ValueError("x")))
    t = mon.table(spark)
    rows = {r["name"]: r["status"] for r in t.collect()}
    assert rows == {"count_nation": "success", "boom": "error"}


def test_knn_block_guard_salt_matches_plain(spark):
    """An oversized block salted into sub-tasks returns bit-identical
    top-k (every pair still meets exactly once)."""
    from metalpipe_spark.operators.similarity import pairwise_topk_per_label

    rows = [
        ("hot", i, [float(i % 5), float((i * 7) % 11), 1.0]) for i in range(30)
    ] + [("cold", i + 100, [float(i), 1.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, ["label", "vec_id", "embedding"])
    plain = sorted(
        map(
            tuple,
            pairwise_topk_per_label(df, k=2, max_block_size=None).collect(),
        )
    )
    salted = sorted(
        map(
            tuple,
            pairwise_topk_per_label(
                df, k=2, max_block_size=10, oversize="salt", salt_parts=4
            ).collect(),
        )
    )
    assert plain == salted and len(plain) > 0


def test_knn_block_guard_raises(spark):
    from metalpipe_spark.operators.similarity import pairwise_topk_per_label

    rows = [("hot", i, [1.0, float(i)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["label", "vec_id", "embedding"])
    with pytest.raises(ValueError, match="max_block_size"):
        pairwise_topk_per_label(df, k=1, max_block_size=5, oversize="raise")


def test_knn_gemm_matches_exact_fold(spark):
    """The GEMM twin returns the same neighbors/ranks as the exact-fold
    operator; cosines agree within rounding (BLAS vs sequential sum)."""
    from metalpipe_spark.operators.similarity import (
        pairwise_topk_per_label,
        pairwise_topk_per_label_gemm,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["d1"], r["rnk"]): (r["d2"], r["cosine_sim"])
        for r in pairwise_topk_per_label(emb, k=3, dim=64).collect()
    }
    gemm = {
        (r["d1"], r["rnk"]): (r["d2"], r["cosine_sim"])
        for r in pairwise_topk_per_label_gemm(emb, k=3).collect()
    }
    assert set(exact) == set(gemm)
    for key, (d2, sim) in exact.items():
        g_d2, g_sim = gemm[key]
        assert g_d2 == d2, f"{key}: neighbor {g_d2} != {d2}"
        assert abs(g_sim - sim) <= 1.1e-6, f"{key}: {g_sim} vs {sim}"


def test_knn_gemm_oversized_block_raises(spark):
    from metalpipe_spark.operators.similarity import pairwise_topk_per_label_gemm

    rows = [(0, i, [1.0, float(i)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["label", "vec_id", "embedding"])
    with pytest.raises(Exception, match="max_block_size"):
        pairwise_topk_per_label_gemm(df, k=1, max_block_size=5).collect()


def test_ivf_topk_recall_vs_brute_force(spark):
    """Learned-IVF approximate kNN must recover most true nearest
    neighbors (the synthetic embeddings are near-random — the `label`
    column does NOT cluster the space — so multi-probe carries the
    recall), and be deterministic for a fixed seed."""
    from metalpipe_spark.operators.similarity import ivf_topk, pairwise_topk_per_label

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # Brute-force truth: every vector vs every vector (one global block).
    truth_src = emb.withColumn("allb", F.lit(0))
    truth = {
        r["d1"]: r["d2"]
        for r in pairwise_topk_per_label(
            truth_src, label_col="allb", k=1, dim=64, max_block_size=None
        ).collect()
    }
    def recall(n_probe):
        got = {
            r["d1"]: r["d2"]
            for r in ivf_topk(emb, k_cells=8, k=1, n_probe=n_probe)
            .filter(F.col("rnk") == 1)
            .collect()
        }
        return sum(1 for d1, d2 in truth.items() if got.get(d1) == d2) / len(truth), got

    # The serving default (n_probe=4) must hold >= 0.9 recall@1 even on
    # this near-random geometry — the floor a deployment can rely on.
    r4, got4 = recall(4)
    assert r4 >= 0.9, f"recall@1(n_probe=4) {r4:.2f}"
    # More probes must not lose recall (the IVF cost/recall knob).
    r1, _ = recall(1)
    assert r4 >= r1
    # Determinism: same seed -> identical neighbors.
    _, again = recall(4)
    assert got4 == again


def test_brute_force_topk_batch_matches_single(spark):
    """Batched top-k == the single-query operator run per query."""
    from metalpipe_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qrows = emb.orderBy("vec_id").limit(3).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows], ["query_id", "embedding"]
    )
    batch = {
        (r["query_id"], r["rnk"]): (r["vec_id"], r["cosine_sim"])
        for r in brute_force_topk_batch(emb, queries, k=5).collect()
    }
    for r in qrows:
        single = brute_force_topk(emb, [float(v) for v in r["embedding"]], k=5).collect()
        for rnk, s in enumerate(single, start=1):
            d, sim = batch[(r["vec_id"], rnk)]
            assert d == s["vec_id"]
            assert abs(sim - s["cosine_sim"]) <= 1.1e-6


def test_ivf_search_external_queries(spark):
    """Serving path: an external query batch against the IVF index.  A
    corpus vector used AS a query must find itself at rank 1 (cosine 1.0)
    whenever its home cell is probed — which multi-probe guarantees for
    the nearest centroid."""
    from metalpipe_spark.operators.similarity import ivf_search

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qrows = emb.orderBy("vec_id").limit(5).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows], ["query_id", "embedding"]
    )
    out = ivf_search(emb, queries, k_cells=8, k=3, n_probe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {r["vec_id"] for r in qrows}
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r["rnk"])
        assert top["vec_id"] == qid and top["cosine_sim"] == 1.0
        assert len(rows) == 3


def test_ivf_index_build_load_serve_roundtrip(spark, tmp_path):
    """build -> write partitioned by cell -> reload -> serve must equal
    the inline ivf_search (same seed, same probes), with no k-means fit
    on the serving path."""
    from metalpipe_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_search_prebuilt,
        load_ivf_index,
    )
    from metalpipe_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in ivf_search(emb, queries, k=5, n_probe=2).collect()
    }
    idx_path = str(tmp_path / "ivf")
    build_ivf_index(emb, idx_path)
    index = load_ivf_index(spark, idx_path)
    served = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in ivf_search_prebuilt(index, queries, k=5, n_probe=2).collect()
    }
    assert served == inline and served


def test_rebalance_small_scan_gate(spark, tmp_path):
    """Rebalance fires only for row-group-starved small files: a
    1-row-group file spreads to defaultParallelism partitions, a
    many-row-group file keeps its scan partitioning (the 100 TB shape),
    and a non-file path is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metalpipe_spark.sources.readers import rebalance_small_scan

    tbl = pa.table({"id": list(range(10000)), "v": [float(i) for i in range(10000)]})
    one = str(tmp_path / "one.parquet")
    pq.write_table(tbl, one)  # single row group
    many = str(tmp_path / "many.parquet")
    pq.write_table(tbl, many, row_group_size=100)  # 100 row groups

    cores = spark.sparkContext.defaultParallelism
    df_one = spark.read.parquet(one)
    out_one = rebalance_small_scan(spark, df_one, one)
    assert out_one.rdd.getNumPartitions() == cores
    assert out_one.count() == 10000

    df_many = spark.read.parquet(many)
    out_many = rebalance_small_scan(spark, df_many, many)
    assert out_many is df_many  # untouched: enough row groups already

    assert rebalance_small_scan(spark, df_one, str(tmp_path / "nope")) is df_one


def test_connected_components_restores_shuffle_conf(spark):
    """The CC loop retunes spark.sql.shuffle.partitions per round from
    the live edge count; the session value must be restored afterwards
    (batch queries planned later keep the session default)."""
    from metalpipe_spark.operators.dedup import connected_components

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["d1", "d2"]
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_connected_components_structural_convergence(spark):
    """The star-forest convergence test must stop at the true fixpoint:
    long chains (worst case for star contraction) and random graphs all
    match a driver-side union-find."""
    import random

    from metalpipe_spark.operators.dedup import connected_components

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}
        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # path-compress fully, then map every node to its component min
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(ms) for r, ms in comp.items() for n in ms}

    cases = [
        [(i, i + 1) for i in range(40)],              # one long chain
        [(i + 1, i) for i in range(40)],              # reversed chain
        [(0, 1), (2, 3), (4, 5), (1, 2)],             # chain of stars
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = 60
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        )
    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        nodes = {x for e in edges_py for x in e}
        expect = union_find(edges_py, nodes)
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                spark.createDataFrame(edges_py, ["d1", "d2"])
            ).collect()
        }
        assert got == expect, (sorted(edges_py), got, expect)


def test_semantic_dedup_keeps_min_id_per_dup_group(spark):
    """SemDeDup keep-min-id: within a cell, a doc survives iff no
    lower-id doc clears the cosine threshold.  Greedy chain behavior
    (a~b, b~c, a!~c) drops BOTH b and c — the per-cell approximation
    SemDeDup itself uses, pinned here so it can't silently change."""
    from metalpipe_spark.operators.similarity import (
        semantic_dedup,
        semantic_neardup_pairs,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    rows = [
        # dup group in cell 0: 1 and 2 are parallel (cosine 1.0)
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [2.0, 0.2, 0.0, 0.0]),
        # dup group in cell 1: parallel negatives
        (3, [-1.0, 0.0, 0.3, 0.0]),
        (4, [-3.0, 0.0, 0.9, 0.0]),
        # singleton: near-orthogonal to both groups, lands in one cell
        (5, [0.1, -1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    )
    assert kept == [1, 3, 5]

    # chain: a~b (cos ~1), b~c (cos ~1 after rotation), a!~c — all one cell
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    chain = spark.createDataFrame(
        [(10, unit(0.0)), (11, unit(0.35)), (12, unit(0.7))],
        "vec_id int, embedding array<double>",
    )
    # cos(0.35) ~ 0.939 >= 0.93; cos(0.7) ~ 0.765 < 0.93
    pairs = sorted(
        (r["d1"], r["d2"])
        for r in semantic_neardup_pairs(chain, cents, threshold=0.93).collect()
    )
    assert pairs == [(10, 11), (11, 12)]
    kept_chain = sorted(
        r["vec_id"]
        for r in semantic_dedup(chain, cents, threshold=0.93).collect()
    )
    assert kept_chain == [10]


def test_semantic_dedup_gemm_matches_exact(spark):
    """The BLAS twin must produce the same survivor set as the exact
    fold on real data (sf0.001 embeddings), plus the synthetic groups
    from the exact-twin test."""
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        semantic_dedup,
        semantic_dedup_gemm,
    )
    from metalpipe_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    cents = deterministic_centroids(8, 64)
    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    exact = sorted(r["vec_id"] for r in semantic_dedup(emb, cents, 0.25).collect())
    gemm = sorted(
        r["vec_id"] for r in semantic_dedup_gemm(emb, cents, 0.25).collect()
    )
    assert gemm == exact
    assert 0 < len(gemm) < emb.count()

    small = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.1, 0.0, 0.0]),
        (2, [2.0, 0.2, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.3, 0.0]),
        (4, [-3.0, 0.0, 0.9, 0.0]),
        (5, [0.1, -1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assert sorted(
        r["vec_id"] for r in semantic_dedup_gemm(df, small, threshold=0.9).collect()
    ) == [1, 3, 5]


def test_incremental_semantic_dedup_matches_batch_policy(spark):
    """Incremental semantic dedup: batch rows with a stored near-dup are
    dropped; survivors extend the store; a second batch dedups against
    the grown store."""
    from metalpipe_spark.operators.similarity import (
        cell_store,
        incremental_semantic_dedup,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    accepted = spark.createDataFrame(
        [(1, [1.0, 0.05, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    store = cell_store(accepted, cents)

    batch1 = spark.createDataFrame(
        [
            (10, [2.0, 0.1, 0.0, 0.0]),   # near-dup of stored 1 -> dropped
            (11, [-1.0, 0.0, 0.2, 0.0]),  # new content -> kept
            (12, [-2.0, 0.0, 0.4, 0.0]),  # in-batch dup of 11 -> dropped
        ],
        "vec_id int, embedding array<double>",
    )
    fresh, store2 = incremental_semantic_dedup(batch1, store, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in fresh.collect()) == [11]
    assert sorted(r["vec_id"] for r in store2.select("vec_id").collect()) == [1, 11]

    batch2 = spark.createDataFrame(
        [(20, [-3.0, 0.0, 0.6, 0.0])], "vec_id int, embedding array<double>"
    )  # near-dup of the NEWLY accepted 11
    fresh2, store3 = incremental_semantic_dedup(batch2, store2, cents, threshold=0.95)
    assert fresh2.count() == 0
    assert sorted(r["vec_id"] for r in store3.select("vec_id").collect()) == [1, 11]


def test_mean_pool_embeddings_matches_numpy(spark):
    """Pooled vectors must equal a numpy mean per group (double mode),
    and exact mode must be invariant to partitioning (decimal sums are
    order-independent)."""
    import numpy as np

    from metalpipe_spark.operators.similarity import mean_pool_embeddings

    rng = np.random.default_rng(7)
    rows = [
        (int(i % 3), [float(x) for x in rng.normal(size=4)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    got = {
        r["label"]: r["mean_embedding"]
        for r in mean_pool_embeddings(df, "label", dim=4).collect()
    }
    for lbl in (0, 1, 2):
        want = np.mean([v for l, v in rows if l == lbl], axis=0)
        assert np.allclose(got[lbl], want, atol=1e-12)

    exact1 = {
        r["label"]: r["mean_embedding"]
        for r in mean_pool_embeddings(df, "label", dim=4, exact=True).collect()
    }
    exact2 = {
        r["label"]: r["mean_embedding"]
        for r in mean_pool_embeddings(
            df.repartition(11), "label", dim=4, exact=True
        ).collect()
    }
    assert exact1 == exact2  # bit-identical under any partitioning


def test_incremental_semantic_dedup_string_ids_one_sided_cells(spark):
    """Regression: the cogrouped cross-store GEMM must handle string id
    columns AND cells present on only one side (empty cogroup halves) —
    the empty-group fallback previously hardcoded an int64 frame and
    crashed Arrow conversion for string ids."""
    from metalpipe_spark.operators.similarity import (
        cell_store,
        incremental_semantic_dedup,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    # store only has cell-1 (negative) vectors
    accepted = spark.createDataFrame(
        [("s1", [-1.0, 0.0, 0.1, 0.0])], "vec_id string, embedding array<double>"
    )
    store = cell_store(accepted, cents)
    # batch only has cell-0 (positive) vectors -> both cogroup sides
    # see an empty opposite half
    batch = spark.createDataFrame(
        [("b1", [1.0, 0.0, 0.0, 0.0]), ("b2", [2.0, 0.1, 0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    fresh, updated = incremental_semantic_dedup(batch, store, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in fresh.collect()) == ["b1"]  # b2 in-batch dup
    assert sorted(r["vec_id"] for r in updated.select("vec_id").collect()) == [
        "b1", "s1",
    ]


def test_pq_encode_reconstruction_and_gemm_twin(spark):
    """PQ contract: (1) a vector assembled FROM codebook entries encodes
    to exactly those codes (the quantizer is idempotent on its own
    codewords); (2) the BLAS encode twin produces identical codes to
    the fold-form encoder on the real embeddings fixture; (3) encoding
    is partitioning-independent."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.pq import (
        deterministic_pq_codebooks,
        pq_encode,
        pq_encode_gemm,
    )
    from metalpipe_spark.sources.readers import load_table

    books = deterministic_pq_codebooks(8, 16, 64)

    chosen = [3, 0, 15, 7, 9, 1, 12, 4]
    assembled = [x for s, c in enumerate(chosen) for x in books[s][c]]
    df = spark.createDataFrame(
        [(0, assembled)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    got = pq_encode(df, books).collect()[0]["codes"]
    assert got == chosen

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    fold = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    gemm = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode_gemm(emb, books).collect()
    }
    assert fold == gemm

    repart = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb.repartition(7), books).collect()
    }
    assert fold == repart


def test_pq_adc_ranks_own_codeword_first(spark):
    """ADC sanity: querying with a vector assembled from codebook
    entries ranks its exact codeword twin at rnk 1 (its ADC distance is
    the minimum possible: the per-subspace optimum everywhere), ahead
    of corpus vectors quantizing to other codes."""
    from metalpipe_spark.operators.pq import (
        deterministic_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    books = deterministic_pq_codebooks(4, 8, 16)
    twin = [x for s in range(4) for x in books[s][s]]
    far = [x for s in range(4) for x in books[s][7 - s]]
    corpus = spark.createDataFrame(
        [(0, twin), (1, far)], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    enc = pq_encode(corpus, books)
    import pyspark.sql.functions as F

    qs = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = pq_adc_topk(enc, qs, books, k=2).collect()
    by_rank = {r["rnk"]: r["vec_id"] for r in got}
    assert by_rank[1] == 0 and by_rank[2] == 1


def test_ivfadc_prunes_to_probed_cells_and_matches_pq_order(spark):
    """IVFADC contract: (1) every returned candidate lives in one of
    the query's n_probe probed cells (the pruning actually prunes);
    (2) on the candidates it DOES score, ranking matches brute ADC
    (pq_adc_topk restricted to the same candidate set) — the
    composition changes recall, never the distance arithmetic."""
    import pyspark.sql.functions as F

    from metalpipe_spark.operators.pq import (
        deterministic_pq_codebooks,
        ivfadc_topk,
        pq_adc_topk,
        pq_encode,
    )
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign_literal,
    )
    from metalpipe_spark.sources.readers import load_table

    cents = deterministic_centroids(8, 64)
    books = deterministic_pq_codebooks(8, 16, 64)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = pq_encode(
        ivf_assign_literal(emb, cents).select("cell", "vec_id", "embedding"),
        books,
    )
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivfadc_topk(index, qs, cents, books, k=5, n_probe=2).collect()

    cells = {r["vec_id"]: r["cell"] for r in index.select("vec_id", "cell").collect()}
    from metalpipe_spark.operators.similarity import _probe_cells

    probed = {
        r["query_id"]: set(r["pc"])
        for r in qs.withColumn("_vd", F.col("embedding").cast("array<double>"))
        .select("query_id", _probe_cells(cents, 2).alias("pc"))
        .collect()
    }
    assert got  # non-empty at this fixture size
    for r in got:
        assert cells[r["vec_id"]] in probed[r["query_id"]]

    # Brute ADC over ONLY the probed candidates must agree rank-for-rank.
    cand_ids = {
        (r["query_id"], v)
        for r in qs.collect()
        for v, c in cells.items()
        if c in probed[r["query_id"]]
    }
    enc_all = pq_encode(emb.select("vec_id", "embedding"), books)
    brute = pq_adc_topk(enc_all, qs, books, k=len(cells)).collect()
    expected = {}
    for qid in probed:
        scored = [r for r in brute if r["query_id"] == qid and (qid, r["vec_id"]) in cand_ids]
        scored.sort(key=lambda r: r["rnk"])
        for i, r in enumerate(scored[:5], 1):
            expected[(qid, i)] = r["vec_id"]
    for r in got:
        assert expected[(r["query_id"], r["rnk"])] == r["vec_id"]


def test_pq_index_roundtrip_and_adc_equals_reconstruction(spark, tmp_path):
    """(1) build_pq_index -> load_pq_index roundtrips codes, centroids,
    and codebooks exactly, and serving IVFADC from the loaded artifact
    matches serving from the in-memory index.  (2) The ADC identity:
    ranking by ADC distance equals ranking by exact L2 to the
    RECONSTRUCTED vectors (ADC(q,v) = |v_hat|^2 - 2 q.v_hat =
    ||q - v_hat||^2 - |q|^2 — same order), pinned on the fixture."""
    import numpy as np
    import pyspark.sql.functions as F

    from metalpipe_spark.operators.pq import (
        build_pq_index,
        deterministic_pq_codebooks,
        ivfadc_topk,
        load_pq_index,
        pq_adc_topk,
        pq_encode,
    )
    from metalpipe_spark.operators.similarity import deterministic_centroids
    from metalpipe_spark.sources.readers import load_table

    cents = deterministic_centroids(8, 64)
    books = deterministic_pq_codebooks(8, 16, 64)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "pqidx")
    build_pq_index(emb, path, cents, books)
    enc2, cents2, books2 = load_pq_index(spark, path)
    assert cents2 == cents and books2 == books

    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = ivfadc_topk(enc2, qs, cents2, books2, k=5, n_probe=2).collect()
    from metalpipe_spark.operators.similarity import ivf_assign_literal

    mem_index = pq_encode(
        ivf_assign_literal(emb, cents).select("cell", "vec_id", "embedding"),
        books,
    )
    mem = ivfadc_topk(mem_index, qs, cents, books, k=5, n_probe=2).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, mem))

    # ADC == reconstruction-distance ranking (numpy replay).
    codes = {r["vec_id"]: list(r["codes"]) for r in enc2.collect()}
    mats = [np.asarray(b) for b in books]
    recon = {
        v: np.concatenate([mats[s][c] for s, c in enumerate(cs)])
        for v, cs in codes.items()
    }
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    got = pq_adc_topk(pq_encode(emb, books), qs, books, k=5).collect()
    for qid in range(5):
        q = vecs[qid]
        exact = sorted(
            recon, key=lambda v: (round(float(((q - recon[v]) ** 2).sum()), 6), v)
        )[:5]
        adc = [r["vec_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rnk"])]
        assert adc == exact


def test_learned_pq_beats_deterministic_on_quantization_error(spark):
    """The learned-codebook twin's correctness evidence (k-means output
    is not SQL-replayable): on the corpus it was fit to, learned books
    must give strictly lower mean reconstruction error than the
    deterministic literal books, and the unchanged serving path encodes
    with them as-is."""
    import numpy as np
    import pyspark.sql.functions as F

    from metalpipe_spark.operators.pq import (
        deterministic_pq_codebooks,
        pq_encode_gemm,
        train_pq_codebooks,
    )
    from metalpipe_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    det = deterministic_pq_codebooks(8, 16, 64)
    learned = train_pq_codebooks(emb, 8, 16, 64)
    assert len(learned) == 8 and all(len(b) == 16 for b in learned)

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def mse(books):
        mats = [np.asarray(b) for b in books]
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in pq_encode_gemm(emb, books).collect()
        }
        tot = 0.0
        for v, cs in codes.items():
            recon = np.concatenate([mats[s][c] for s, c in enumerate(cs)])
            tot += float(((vecs[v] - recon) ** 2).sum())
        return tot / len(codes)

    assert mse(learned) < mse(det)


def test_adc_rerank_full_shortlist_equals_exact_l2(spark):
    """Two-stage serving correctness anchor: when the ADC shortlist
    covers the whole corpus, adc_rerank must equal the exact L2 top-k
    (numpy ground truth) — the quantized stage then only SELECTS, never
    ranks.  Also pins the recall mechanism the sf1 measurement relies
    on: with a small shortlist the reranked top-1 can only agree with
    exact at least as often as raw ADC's top-1 does."""
    import numpy as np
    import pyspark.sql.functions as F

    from metalpipe_spark.operators.pq import (
        adc_rerank,
        deterministic_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )
    from metalpipe_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    books = deterministic_pq_codebooks(8, 16, 64)
    enc = pq_encode(emb, books)
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    short_full = pq_adc_topk(enc, qs, books, k=n)
    got = {}
    for r in adc_rerank(short_full, emb, qs, k=4).collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["vec_id"]))
    for qid in range(5):
        q = vecs[qid]
        exact = sorted(
            vecs, key=lambda v: (round(float(((q - vecs[v]) ** 2).sum()), 6), v)
        )[:4]
        assert [d for _, d in sorted(got[qid])] == exact

    # Small-shortlist monotonicity: reranked top-1 matches exact-top-1
    # (self, distance 0) for every query; raw ADC need not.
    rr = {r["query_id"]: r["vec_id"]
          for r in adc_rerank(pq_adc_topk(enc, qs, books, k=10), emb, qs, k=1).collect()}
    assert rr == {q: q for q in range(5)}


def test_semantic_dedup_scaled_cells_track_corpus(spark):
    """The 100 TB SemDeDup entry point (round 12): k grows with the
    corpus (n / target_cell_size, floor 8), the fit can run on a
    sample, and the keep-min-id contract matches the fixed-centroid
    twins.  A fixed centroid set turns 10x data into ~100x per-cell
    work — this is the knob that keeps cells bounded instead."""
    import math

    from metalpipe_spark.operators.similarity import semantic_dedup_scaled

    # 400 golden-angle directions on a circle (three-distance theorem:
    # min pairwise angle ~2pi/1000 -> cosine <= ~0.99998, safely under
    # the threshold after 6-decimal quantization) + one planted
    # parallel duplicate (scaled copy, cosine exactly 1.0 and the SAME
    # normalized doubles, hence the same learned cell) for every 4th.
    rows = []
    for i in range(400):
        theta = (i * 2.399963) % (2 * math.pi)
        v = [math.cos(theta), math.sin(theta), 0.0, 0.0]
        rows.append((i, v))
        if i % 4 == 0:
            rows.append((1000 + i, [2.0 * x for x in v]))  # cosine 1.0
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    kept = semantic_dedup_scaled(
        df, threshold=0.999999, target_cell_size=50, seed=7
    )
    kept_ids = {r["vec_id"] for r in kept.collect()}
    # Every planted duplicate loses to its lower-id original (parallel
    # vectors share a cell: identical direction => identical nearest
    # centroid), every original survives.
    assert all(i in kept_ids for i in range(400))
    assert all(1000 + i not in kept_ids for i in range(0, 400, 4))

    # Sampled fit reproduces the same survivor structure (fit on half
    # the data, assign everything).
    kept_s = semantic_dedup_scaled(
        df, threshold=0.999999, target_cell_size=50, seed=7,
        fit_fraction=0.5,
    )
    ids_s = {r["vec_id"] for r in kept_s.collect()}
    assert all(i in ids_s for i in range(400))
    assert all(1000 + i not in ids_s for i in range(0, 400, 4))


def test_semantic_dedup_scaled_tiny_corpus_edges(spark):
    """ADVICE r12: corpora smaller than the k floor must clamp k to n
    (not hand KMeans k > n), a single vector passes through, and an
    empty corpus fails with the operator's own message instead of an
    opaque ML error after the corpus-scale count already ran."""
    import pytest

    from metalpipe_spark.operators.similarity import semantic_dedup_scaled

    schema = "vec_id int, embedding array<double>"
    tiny = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.0]) for i in range(5)]
        + [(100, [2.0, 2.0, 0.0])],  # parallel to vec_id=0's direction? no
        schema,
    )
    kept = semantic_dedup_scaled(tiny, threshold=0.999999, target_cell_size=1024)
    assert kept.count() >= 1  # k clamped to [2, 6]; no KMeans crash

    one = spark.createDataFrame([(7, [1.0, 0.0])], schema)
    assert [r["vec_id"] for r in semantic_dedup_scaled(one).collect()] == [7]

    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="empty corpus"):
        semantic_dedup_scaled(empty)


def test_semantic_dedup_scaled_thin_sample_fails_fast(spark):
    """The fit_fraction guard counts the ACTUAL Bernoulli draw when the
    expected margin is thin (<2k), so a short draw raises the
    operator's error, never a mid-fit KMeans crash."""
    import pytest

    from metalpipe_spark.operators.similarity import semantic_dedup_scaled

    df = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5 + 1)]) for i in range(40)],
        "vec_id int, embedding array<double>",
    )
    # k = ceil(40/5) = 8; the deterministic fitter's hash sample at
    # fraction 0.2 draws ~8 rows: either it drew >= 8 and fits, or the
    # fitter raises its thin-sample message on the ACTUAL draw.
    try:
        semantic_dedup_scaled(
            df, target_cell_size=5, fit_fraction=0.2, seed=3
        ).count()
    except ValueError as e:
        assert "fit sample" in str(e)
    # expected < k fails before any sampling pass
    with pytest.raises(ValueError, match="fit_fraction"):
        semantic_dedup_scaled(df, target_cell_size=5, fit_fraction=0.05)


def _golden_corpus(spark, n, dup_every=4, dup_offset=1000):
    import math

    rows = []
    for i in range(n):
        theta = (i * 2.399963) % (2 * math.pi)
        v = [math.cos(theta), math.sin(theta), 0.0, 0.0]
        rows.append((i, v))
        if i % dup_every == 0:
            rows.append((dup_offset + i, [2.0 * x for x in v]))  # cosine 1.0
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_incremental_semantic_dedup_scaled_batches(spark):
    """The 100 TB INCREMENTAL SemDeDup (round 13): cells fitted once to
    the expected corpus, every batch assigns against the broadcast
    centroid matrix and dedups per cell — in-batch dups resolve
    keep-min-id, cross-batch dups lose to the accumulated store, the
    store grows only by survivors.  Per-batch cost is
    O(batch x target_cell_size), constant as the store grows — the
    fixed-centroid twin's per-batch cost grows with corpus history."""
    from metalpipe_spark.operators.similarity import (
        fit_semantic_cells,
        incremental_semantic_dedup_scaled,
    )

    df = _golden_corpus(spark, 120)
    cells = fit_semantic_cells(
        df, target_cell_size=20, expected_corpus_rows=150, seed=7
    ).cache()
    # batches: originals 0-59 | originals 60-119 + dups of 0-56 | dups of 60-116
    b1 = df.where("vec_id < 60")
    b2 = df.where("(vec_id >= 60 AND vec_id < 1000) OR (vec_id >= 1000 AND vec_id < 1060)")
    b3 = df.where("vec_id >= 1060")
    store = None
    fresh_all = []
    for b in (b1, b2, b3):
        fresh, store = incremental_semantic_dedup_scaled(
            b, store, cells, threshold=0.999999
        )
        store = store.localCheckpoint(eager=True)
        fresh_all += [r["vec_id"] for r in fresh.collect()]
    # Every original survives exactly once; every planted duplicate
    # (same direction, higher id, later or same arrival) is dropped —
    # in-batch (1000+i arrives with i in b1/b2) and cross-batch
    # (1060+ arrives after its original's batch).
    assert sorted(fresh_all) == list(range(120))
    assert store.count() == 120  # survivors only


def test_thread_target_wrapper_both_return_shapes(monkeypatch):
    """inheritable_thread_target(session) returns the session itself
    when pinned-thread mode is off (targets then run as-is) and a
    decorator when it is on; a real failure inside it propagates."""
    import pyspark

    from metalpipe_spark.operators.similarity import _thread_target_wrapper

    session = object()

    def target():
        return 1

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda s: s)
    assert _thread_target_wrapper(session)(target) is target
    wrapped = []
    monkeypatch.setattr(
        pyspark, "inheritable_thread_target",
        lambda s: lambda fn: wrapped.append(fn) or (lambda: fn() + 1),
    )
    assert _thread_target_wrapper(session)(target)() == 2
    assert wrapped == [target]

    for exc in (TypeError("real bug"), AssertionError("no active SparkContext")):

        def failing(s, exc=exc):
            raise exc

        monkeypatch.setattr(pyspark, "inheritable_thread_target", failing)
        with pytest.raises(type(exc), match=str(exc)):
            _thread_target_wrapper(session)(target)


def test_incremental_semantic_dedup_scaled_jobs_inherit_group(spark):
    """The concurrent survivor-checkpoint jobs run from pool threads,
    which under pinned-thread mode get FRESH Spark local properties —
    so they escaped the caller's job group (ADVICE r17: cancelling a
    streaming query's group would not reach an in-flight checkpoint).
    inheritable_thread_target fixes that: every job submitted during
    the call, pool threads included, must land in the caller's group."""
    from metalpipe_spark.operators.similarity import (
        fit_semantic_cells,
        incremental_semantic_dedup_scaled,
    )

    df = _golden_corpus(spark, 60)
    cells = fit_semantic_cells(
        df, target_cell_size=20, expected_corpus_rows=80, seed=7
    ).cache()
    cells.count()  # materialize outside the measured window
    sc = spark.sparkContext
    store_jvm = spark._jsc.sc().statusStore()
    n_jobs_before = store_jvm.jobsList(None).size()
    group = "semdedup-scaled-inherit-test"
    sc.setJobGroup(group, "checkpoint-inheritance probe")
    try:
        fresh, store = incremental_semantic_dedup_scaled(
            df, None, cells, threshold=0.999999
        )
        fresh.collect()
    finally:
        sc.setJobGroup("", "")
    n_jobs_after = store_jvm.jobsList(None).size()
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs_after > n_jobs_before
    # Every job of the window is in the group — including the two
    # pool-thread localCheckpoint jobs, which is the fix under test.
    assert len(in_group) == n_jobs_after - n_jobs_before


def test_incremental_semantic_dedup_scaled_geometry_guard(spark):
    """Provenance: a store assigned under one centroid geometry refuses
    a differently fitted table (DISTINCT cgen markers — the round-13
    incremental_neardup rule); a hand-unioned centroid table refuses
    outright."""
    import pytest

    from metalpipe_spark.operators.similarity import (
        assign_cells,
        fit_semantic_cells,
        incremental_semantic_dedup_scaled,
    )

    df = _golden_corpus(spark, 40)
    cells_a = fit_semantic_cells(df, target_cell_size=10, seed=7).cache()
    cells_b = fit_semantic_cells(df, target_cell_size=10, seed=99).cache()
    _, store = incremental_semantic_dedup_scaled(
        df, None, cells_a, threshold=0.999999
    )
    store = store.localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="geometry"):
        incremental_semantic_dedup_scaled(df, store, cells_b)
    with pytest.raises(ValueError, match="mixed cgen"):
        assign_cells(df, cells_a.unionByName(cells_b))


def test_fit_semantic_cells_sizing_contracts(spark):
    """k sizes to expected_corpus_rows/target_cell_size, clamps to the
    fit data, and refuses past the broadcast bound."""
    import pytest

    from metalpipe_spark.operators.similarity import (
        _MAX_FITTED_CELLS,
        fit_semantic_cells,
    )

    df = _golden_corpus(spark, 32, dup_every=1 << 30)  # 33 rows (i=0 dup)
    cells = fit_semantic_cells(
        df, target_cell_size=100, expected_corpus_rows=1000
    )
    assert cells.count() == 10  # ceil(1000/100)
    # expected huge but fit data tiny: clamp to n_fit
    small = fit_semantic_cells(
        df, target_cell_size=1, expected_corpus_rows=100
    )
    assert small.count() == df.count()
    with pytest.raises(ValueError, match="broadcast bound"):
        fit_semantic_cells(
            df, target_cell_size=1,
            expected_corpus_rows=_MAX_FITTED_CELLS * 2,
        )
    with pytest.raises(ValueError, match="non-empty"):
        fit_semantic_cells(
            spark.createDataFrame([], "vec_id int, embedding array<double>")
        )
