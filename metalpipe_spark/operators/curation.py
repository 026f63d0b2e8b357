"""Corpus-curation operators for training-data pipelines: deterministic
stratified sampling and per-group top-k selection.

Scale design:
  * sampling is a pure filter on a portable md5-derived uniform — no
    shuffle, no RNG state, reproducible across engines and re-runs (the
    property ``df.sample`` lacks: its output depends on partitioning);
  * per-group top-k uses ``row_number() <= k``, which Spark's
    WindowGroupLimit rank-pushdown (SPARK-37099) evaluates partially
    BEFORE the exchange — each map task ships at most k rows per group,
    so a 100 TB input shuffles O(groups x k), not O(rows).  The plan
    shape is pinned by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metalpipe_spark.operators.dedup import _hash64


def deterministic_uniform(key: Column | str) -> Column:
    """Portable uniform in [0, 1): md5-derived 60-bit hash / 2^60.
    Bit-identical in Spark and any md5-capable SQL engine."""
    col = F.col(key) if isinstance(key, str) else key
    return _hash64(col.cast("string")) / F.lit(float(1 << 60))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a deterministic ``fractions[stratum]`` share of each stratum,
    selecting on a per-row md5 uniform over ``key_col``.  Strata missing
    from ``fractions`` keep ``default_fraction``.  A plain filter: no
    shuffle, no sampling state, stable under repartitioning."""
    frac = F.lit(float(default_fraction))
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return df.where(deterministic_uniform(key_col) < frac)


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    tie_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Top-k rows per group with a total order (``tie_col`` breaks ties
    ascending), emitted with their 1-based ``rank``.

    ``row_number() OVER (PARTITION BY g ORDER BY ...) <= k`` triggers
    Spark's WindowGroupLimit pushdown: a partial top-k runs map-side in
    each input partition, the exchange carries at most k rows per
    (group, map task), and the final window only re-ranks those."""
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    ]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def pack_shards(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    shard_budget: int | float,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pack rows into fixed-budget training shards: ``shard_id =
    floor(prefix_weight / shard_budget)`` where ``prefix_weight`` is the
    total weight of all preceding rows in ``order_col`` order (a
    distributed exclusive prefix sum).

    The naive formulation — ``SUM() OVER (ORDER BY ...)`` with no
    PARTITION BY — collapses 100 TB into ONE task.  This runs the
    classic two-pass scheme instead (zipWithIndex's shape):

      1. range-partition + sort by ``order_col`` (the one shuffle),
         lineage-truncated with a lazy checkpoint;
      2. per-partition weight totals → driver (one tiny row per
         partition), exclusive offsets computed there;
      3. Arrow-batched ``mapInPandas`` adds ``offset[pid] + local
         cumsum`` — no further shuffle, per-row work is a vectorized
         numpy cumsum.

    The checkpoint in step 1 is CORRECTNESS, not a cache: steps 2 and 3
    are separate jobs, and ``repartitionByRange`` samples its boundaries
    with a per-RDD-id seed, so re-evaluating the lineage in each job can
    place rows in different partitions — offsets computed in job 2 would
    then misapply in job 3, silently corrupting shard_id near partition
    boundaries (small inputs never show this: the sample IS the data).
    The checkpoint is LAZY: the totals job materializes it, so the
    upstream is evaluated exactly once total (one fewer pass than an
    eager checkpoint), and an expensive upstream (e.g. a whole curation
    pipeline) is never recomputed — measured 9.7s -> ~6s on the composed
    corpus pipeline at sf0.1 versus re-evaluating per job.

    Shard assignment depends only on the GLOBAL prefix sum, so results
    are identical for any partition count (tested).  ``order_col`` must
    be a unique key, otherwise "preceding" is ambiguous.
    """
    from pyspark.sql.types import LongType

    with_prefix = exclusive_prefix_sum(
        df, weight_col, order_col, num_partitions=num_partitions
    )
    # Integer budgets over integral prefixes divide in BIGINT (`div`) —
    # exact at any prefix magnitude; a double floor could flip a shard
    # boundary once prefixes outgrow the 53-bit mantissa.  Fractional
    # weights make the prefix DOUBLE (exclusive_prefix_sum), so they
    # take the floor path regardless of the budget's type.
    prefix_is_long = isinstance(
        with_prefix.schema["__prefix"].dataType, LongType
    )
    if prefix_is_long and float(shard_budget).is_integer():
        shard = F.expr(f"`__prefix` div {int(shard_budget)}L")
    else:
        shard = F.floor(F.col("__prefix") / F.lit(float(shard_budget))).cast("long")
    return with_prefix.withColumn("shard_id", shard).drop("__prefix")


def prefix_sum_range_stage(
    df: DataFrame, order_col: str, num_partitions: int | None
) -> DataFrame:
    """The pre-checkpoint stage of the two-pass prefix sum: range-
    partition on the global order key, then sort within partitions —
    every partition holds a contiguous, locally-sorted slice of the
    global order, and NO single-partition sort or Window ever runs.
    ``num_partitions=None`` leaves the count to Spark: the shuffle
    partition count, which adaptive execution coalesces (contiguous
    ranges only) to the data's size, so a small input does not pay a
    Python task per empty-ish range.  Split out so plan tests can pin
    the RangePartitioning skeleton (the lazy checkpoint in
    :func:`exclusive_prefix_sum` hides it from the final explain)."""
    if num_partitions is None:
        return df.repartitionByRange(F.col(order_col)).sortWithinPartitions(order_col)
    return df.repartitionByRange(
        num_partitions, F.col(order_col)
    ).sortWithinPartitions(order_col)


def exclusive_prefix_sum(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    num_partitions: int | None = None,
    out_col: str = "__prefix",
) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of ``weight_col`` in
    ``order_col`` order, as a new ``out_col`` — the shared engine under
    every global-order curation op (shard packing, sequence packing,
    global shuffle).  See :func:`pack_shards` for the two-pass scheme
    and why the lazy checkpoint is correctness, not caching.

    ``out_col`` is BIGINT for integral weights (exact at any prefix
    magnitude) and DOUBLE for fractional ones — truncating a fractional
    cumsum to int64 would silently move every shard/sequence boundary
    (weights 0.6 with budget 0.5 pack as 0,1,2,3; an int64 prefix packs
    them 0,0,2,2)."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    integral = isinstance(
        df.schema[weight_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    out_type, np_type = (
        (LongType(), "int64") if integral else (DoubleType(), "float64")
    )
    # NULL weights count as 0 (SQL SUM semantics, matching the oracle):
    # a NaN reaching np.cumsum would poison every later prefix in the
    # partition into INT64_MIN values with no error, and an all-NULL
    # partition would make the totals fetch return None and crash the
    # offset loop.
    df = df.withColumn(weight_col, F.coalesce(F.col(weight_col), F.lit(0)))
    # The lazy checkpoint truncates lineage (so the mapPartitions pass
    # and the totals pass share ONE materialization) — which also hides
    # the RangePartitioning exchange from the final explain; plan pins
    # for the skeleton go against prefix_sum_range_stage directly.
    ranged = prefix_sum_range_stage(df, order_col, num_partitions).localCheckpoint(
        eager=False
    )
    totals = {
        r["__pid"]: r["__w"]
        for r in ranged.select(
            F.spark_partition_id().alias("__pid"), F.col(weight_col)
        )
        .groupBy("__pid")
        .agg(F.sum(weight_col).alias("__w"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):  # partitions without rows need no offset
        offsets[pid] = acc
        acc += totals[pid]
    schema = StructType(
        df.schema.fields + [StructField(out_col, out_type, False)]
    )

    def assign(iterator):
        import numpy as np
        from pyspark import TaskContext

        run = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in iterator:
            w = pdf[weight_col].to_numpy()
            csum = np.cumsum(w)
            out = pdf.copy()
            out[out_col] = (run + csum - w).astype(np_type)  # exclusive
            if len(w):
                run += csum[-1]
            yield out

    return ranged.mapInPandas(assign, schema)


def pack_sequences(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    seq_len: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing manifest: concatenate every document's
    tokens in ``order_col`` order and chunk the stream into fixed
    ``seq_len`` sequences — documents SPLIT across sequence boundaries
    (the standard pretraining packing, vs :func:`pack_shards`' document-
    atomic shards).  Emits one row per (document, sequence) overlap::

        (input cols..., seq_id, doc_start, seq_start, piece_len)

    ``doc_start`` = token offset within the document where the piece
    begins, ``seq_start`` = offset within the sequence, so a writer can
    slice each document's token array and scatter into sequence
    buffers with no further coordination.  Zero-token documents emit no
    rows.

    Plan shape: ONE shuffle (the prefix sum's range partition), then
    the per-doc sequence range explodes in codegen
    (``explode(sequence(first_seq, last_seq))`` + min/max arithmetic) —
    output size is input pieces, never tokens, and the global window
    trap (one task) is avoided by the distributed prefix sum.

    ``weight_col`` must be integral (token COUNTS — the BIGINT ``div``
    boundary arithmetic has no meaning for fractional weights)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        df.schema[weight_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        raise ValueError(
            f"pack_sequences needs an integral token count; "
            f"{weight_col!r} is {df.schema[weight_col].dataType.simpleString()}"
        )
    with_prefix = exclusive_prefix_sum(
        df, weight_col, order_col, num_partitions=num_partitions
    )
    L = F.lit(int(seq_len)).cast("long")
    n = F.col(weight_col).cast("long")
    prefix = F.col("__prefix")
    # BIGINT `div`, not double division: exact at any prefix magnitude.
    first_seq = F.expr(f"`__prefix` div {int(seq_len)}L")
    last_seq = F.expr(
        f"(`__prefix` + CAST(`{weight_col}` AS BIGINT) - 1L) div {int(seq_len)}L"
    )
    exploded = with_prefix.where(n > 0).withColumn(
        "seq_id", F.explode(F.sequence(first_seq, last_seq))
    )
    s = F.col("seq_id").cast("long")
    piece_start = F.greatest(prefix, s * L)
    piece_end = F.least(prefix + n, (s + F.lit(1)) * L)
    return exploded.select(
        *[c for c in df.columns],
        "seq_id",
        (piece_start - prefix).alias("doc_start"),
        (piece_start - s * L).alias("seq_start"),
        (piece_end - piece_start).alias("piece_len"),
    )


def domain_mix_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    weights: dict[str, float],
    budget_frac: float | None = None,
    budget_rows: int | None = None,
) -> DataFrame:
    """Resample a corpus toward a target domain MIXTURE (the data-mixing
    step of a training pipeline, cf. DoReMi arXiv:2305.10429 — there the
    weights are learned; here they are an input): given mixture weights
    per domain and a total row budget, each domain keeps a deterministic

        ``rate_d = min(1, budget * w_d / n_d)``

    share of its rows, selected on the same portable md5 uniform as
    :func:`stratified_sample`.  Expected output composition is the
    target mixture wherever the corpus has enough rows; a domain too
    small to fill its allocation keeps everything (rate capped at 1) and
    the result undershoots — water-filling the shortfall into other
    domains would break the fixed per-domain rate that makes the sample
    reproducible, so the cap is reported honestly instead.  Domains
    absent from ``weights`` keep nothing; rows with a NULL domain are
    likewise dropped (the rate join is an equi-join, and NULL never
    equals a weighted domain).

    ``budget_rows`` gives the budget absolutely; ``budget_frac`` as a
    fraction of the observed corpus size (scale-factor portable).

    Scale shape: one map-side-combined count per domain (a few rows),
    broadcast-joined back onto the scan, then a pure filter — no
    data-scale shuffle, stable under any partitioning.  The per-domain
    count table never touches the driver.
    """
    if (budget_frac is None) == (budget_rows is None):
        raise ValueError("give exactly one of budget_frac / budget_rows")
    from pyspark.sql.functions import broadcast

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    if budget_rows is not None:
        budget: Column = F.lit(float(budget_rows))
    else:
        total = counts.agg(F.sum("__n").alias("__total"))
        counts = counts.crossJoin(broadcast(total))
        budget = F.lit(float(budget_frac)) * F.col("__total")
    w = F.lit(0.0)
    for value, f in sorted(weights.items()):
        w = F.when(F.col(domain_col) == value, F.lit(float(f))).otherwise(w)
    rates = counts.select(
        F.col(domain_col),
        F.least(F.lit(1.0), budget * w / F.col("__n")).alias("__rate"),
    )
    return (
        df.join(broadcast(rates), domain_col)
        .where(deterministic_uniform(key_col) < F.col("__rate"))
        .drop("__rate")
    )


def temperature_resample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    alpha: float = 0.3,
    budget_frac: float | None = None,
    budget_rows: int | None = None,
) -> DataFrame:
    """Temperature-based domain rebalancing — the multilingual-sampling
    rule of mT5/XLM-R (arXiv:1910.10683 §3.4.2, arXiv:1911.02116):
    target shares ``w_d ∝ n_d^alpha`` flatten the corpus distribution
    (``alpha = 1`` keeps natural proportions, ``alpha = 0`` gives every
    domain an equal share), so low-resource domains are upsampled
    RELATIVE to their size without hand-written weights —
    :func:`domain_mix_sample` with its ``weights`` dict DERIVED from
    the corpus itself.

    Keep rates are ``min(1, budget * w_d / n_d)`` with ``w_d = n_d^α /
    Σ n^α``, selected on the same portable md5 uniform as every sampler
    here, so the sample is reproducible under any partitioning.  Rates
    quantize to 12 decimals before the uniform compare: ``pow`` is the
    one scalar where engines may differ in the last ulp, and the
    quantization makes the oracle decision identical without touching
    any realistic selection boundary.  Same honest-cap semantics as
    ``domain_mix_sample``: a domain too small for its allocation keeps
    everything and the result undershoots.

    Scale shape: one few-row count aggregate, broadcast back onto the
    scan, then a pure filter — no data-scale shuffle."""
    if (budget_frac is None) == (budget_rows is None):
        raise ValueError("give exactly one of budget_frac / budget_rows")
    from pyspark.sql.functions import broadcast

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    pow_n = F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    tot = counts.agg(
        F.sum(pow_n).alias("__sum_alpha"), F.sum("__n").alias("__total")
    )
    counts = counts.crossJoin(broadcast(tot))
    if budget_rows is not None:
        budget: Column = F.lit(float(budget_rows))
    else:
        budget = F.lit(float(budget_frac)) * F.col("__total")
    share = pow_n / F.col("__sum_alpha")
    rates = counts.select(
        F.col(domain_col),
        F.round(
            F.least(F.lit(1.0), budget * share / F.col("__n")), 12
        ).alias("__rate"),
    )
    return (
        df.join(broadcast(rates), domain_col)
        .where(deterministic_uniform(key_col) < F.col("__rate"))
        .drop("__rate")
    )


def temperature_resample_epochs(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    alpha: float = 0.3,
    budget_frac: float | None = None,
    budget_rows: int | None = None,
    epoch_col: str = "epoch",
) -> DataFrame:
    """The UPSAMPLING twin of :func:`temperature_resample` — true
    mT5-style rates with no ``min(1, …)`` cap: a domain whose
    temperature share exceeds its size REPEATS (the standard
    low-resource-language recipe, arXiv:1910.10683 §3.4.2; repeat
    factors per source as in modern pretraining data recipes), instead
    of the capped filter's silent undershoot.

    Each row emits ``floor(r_d)`` copies plus one more with probability
    ``frac(r_d)`` — stochastic rounding on the portable md5 uniform,
    SALTED (``key || ':epoch'``) so the fractional pick is independent
    of every other sampler's decision on the same key — tagged
    ``epoch_col`` = 0..copies-1 so downstream global shuffle / packing
    can interleave epochs instead of emitting k adjacent duplicates.
    Expected output size is the full budget (Σ n_d·r_d), not the capped
    filter's under-count.  Rates quantize to 12 decimals before both
    the floor and the uniform compare (the pow rule).

    Scale shape: one few-row count aggregate broadcast onto the scan,
    then a codegen sequence-explode — output-sized, no data shuffle."""
    if (budget_frac is None) == (budget_rows is None):
        raise ValueError("give exactly one of budget_frac / budget_rows")
    from pyspark.sql.functions import broadcast

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    pow_n = F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    tot = counts.agg(
        F.sum(pow_n).alias("__sum_alpha"), F.sum("__n").alias("__total")
    )
    counts = counts.crossJoin(broadcast(tot))
    if budget_rows is not None:
        budget: Column = F.lit(float(budget_rows))
    else:
        budget = F.lit(float(budget_frac)) * F.col("__total")
    share = pow_n / F.col("__sum_alpha")
    rates = counts.select(
        F.col(domain_col),
        F.round(budget * share / F.col("__n"), 12).alias("__rate"),
    )
    u = deterministic_uniform(
        F.concat(F.col(key_col).cast("string"), F.lit(":epoch"))
    )
    copies = (
        F.floor(F.col("__rate"))
        + F.when(u < F.col("__rate") - F.floor(F.col("__rate")), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(broadcast(rates), domain_col)
        .withColumn("__copies", copies)
        .where(F.col("__copies") > 0)
        .withColumn(
            epoch_col,
            F.explode(
                F.sequence(F.lit(0).cast("long"), (F.col("__copies") - 1).cast("long"))
            ),
        )
        .drop("__rate", "__copies")
    )


def weighted_sample_per_group(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — top ``k``
    rows (per ``group_col``, or globally) under the Efraimidis-Spirakis
    A-Res key ``u^(1/w)`` (Inf. Proc. Letters 97(5), 2006): each row
    draws its uniform from the portable md5 hash of ``key_col``, so
    inclusion probabilities follow the weights while the sample stays
    reproducible across engines, re-runs, and partitionings (the
    property ``df.sample``/``rand()`` cannot give).  Rows with NULL or
    non-positive weight never qualify (their key is NULL).

    The comparison key is the equivalent log form ``ln(u)/w`` (monotone
    in u^(1/w); avoids pow entirely — ln on identical doubles is the
    same one-scalar exposure every sketch here accepts), quantized to
    12 decimals with ``key_col`` as the total-order tie-break.

    Scale shape: keys are scan-stage codegen; per-group top-k is
    ``row_number() <= k`` (WindowGroupLimit partial top-k map-side —
    at most k rows per group per map task cross the wire); the global
    form uses sort+limit (TakeOrdered), never a one-task window."""
    from pyspark.sql.window import Window

    w = F.col(weight_col).cast("double")
    u = deterministic_uniform(key_col)
    # ln(u)/w: maximal <=> maximal u^(1/w); u in [0,1) makes ln(u) < 0,
    # so bigger weight -> key closer to 0 -> sorts DESC like the paper's.
    key = F.when(w > 0, F.round(F.log(u) / w, 12)).otherwise(F.lit(None))
    keyed = df.withColumn("__wkey", key).where(F.col("__wkey").isNotNull())
    order = [F.desc("__wkey"), F.asc(key_col)]
    if group_col is not None:
        win = Window.partitionBy(group_col).orderBy(*order)
        return (
            keyed.withColumn("rnk", F.row_number().over(win))
            .where(F.col("rnk") <= k)
            .drop("__wkey")
            .withColumn("rnk", F.col("rnk").cast("long"))
        )
    topk = keyed.orderBy(*order).limit(k)
    win = Window.orderBy(*order)
    return (
        topk.withColumn("rnk", F.row_number().over(win).cast("long"))
        .drop("__wkey")
    )


def global_shuffle(
    df: DataFrame,
    key_col: str,
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training-data export: every row
    gets a ``pos`` (0-based) giving its place in a pseudo-random but
    fully REPRODUCIBLE global permutation — the order a training run
    reads examples in, stable across re-runs, cluster sizes, and input
    partitionings (``df.orderBy(rand())`` is none of those).

    The permutation key is ``md5(key || ':' || seed)`` with the row key
    appended as a tie-break, so it is total even if two keys ever
    collided in the hash prefix; a different ``seed`` yields an
    independent permutation (per-epoch reshuffles).

    Scale shape: ranking is :func:`pack_shards`'s distributed prefix
    sum over unit weights (range partition on the shuffle key + per-
    partition offsets + Arrow cumsum) — one shuffle, never a
    single-task global window.  Balanced shuffled shards follow as
    ``pos % n_shards`` (round-robin interleave) or ``pos // shard_rows``
    (contiguous), both pure map-side arithmetic on top.
    """
    tagged = df.withColumn(
        "__sk",
        F.concat(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))),
            F.lit("|"),
            F.col(key_col).cast("string"),
        ),
    ).withColumn("__one", F.lit(1))
    out = pack_shards(
        tagged, "__one", "__sk", 1, num_partitions=num_partitions
    )
    return (
        out.withColumnRenamed("shard_id", "pos").drop("__sk", "__one")
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    key_col: str,
    n_buckets: int = 4,
    seed: int = 0,
    ascending: bool = True,
    bucket_col: str = "bucket",
    pos_col: str = "train_pos",
) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009 applied to corpus
    export): rows are ranked by ``score_col`` (easy→hard when
    ``ascending``), cut into ``n_buckets`` equal rank bands, and
    shuffled WITHIN each band — the training run reads bucket 0's
    examples (in reproducible pseudo-random order) before bucket 1's,
    and so on.  Adds ``bucket_col`` (0-based band) and ``pos_col``
    (0-based global read position).

    Determinism contract: the score rank is exact and total (ties break
    on ``key_col``), the band is pure integer arithmetic
    ``(rank * n_buckets) div n``, and the within-band order is the same
    md5 permutation key as :func:`global_shuffle` — reproducible across
    re-runs, cluster sizes, partitionings, and engines (the DuckDB
    oracle replays it with two row_number windows).

    Scale shape: two passes of the shared distributed prefix-sum engine
    (range partition + per-partition offsets + Arrow cumsum) plus one
    few-row count broadcast — never a single-task global window.  Both
    prefix sums order by a STRUCT key, which range-partitions
    lexicographically."""
    from pyspark.sql.functions import broadcast

    sc = F.col(score_col)
    order1 = F.struct(
        (sc if ascending else -sc).alias("s"), F.col(key_col).alias("k")
    )
    t = df.withColumn("__one", F.lit(1)).withColumn("__ok1", order1)
    ranked = exclusive_prefix_sum(t, "__one", "__ok1", out_col="__rank")
    total = df.agg(F.count(F.lit(1)).alias("__n_total"))
    b = ranked.crossJoin(broadcast(total)).withColumn(
        bucket_col,
        F.expr(f"(__rank * {int(n_buckets)}) div __n_total"),
    )
    order2 = F.struct(
        F.col(bucket_col).alias("b"),
        F.concat(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))),
            F.lit("|"),
            F.col(key_col).cast("string"),
        ).alias("k"),
    )
    out = exclusive_prefix_sum(
        b.withColumn("__ok2", order2), "__one", "__ok2", out_col=pos_col
    )
    return out.drop("__one", "__ok1", "__ok2", "__rank", "__n_total")


def split_corpus(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    split_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic train/validation/test split: each row lands in
    exactly one named split by where its md5 uniform falls among the
    cumulative fraction boundaries (splits ordered by name for a stable
    boundary layout).  Membership depends only on ``key_col`` (and the
    optional ``salt``), so it is reproducible across runs, engines, and
    partitionings, and a document can never leak between splits when
    the corpus is re-processed — the property a ``randomSplit`` sample
    loses on every re-run.  Fractions must sum to 1 (validated).

    A pure map-side projection: no shuffle, no state; filter a split
    out with ``.where(F.col("split") == "train")`` and the md5 filter
    still pushes to the scan.  A NULL ``key_col`` yields a NULL uniform,
    which fails every ``<`` comparison and lands deterministically in
    the LAST split (sorted by name) — supply non-null keys if that
    placement matters."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = deterministic_uniform(
        F.concat(F.col(key_col).cast("string"), F.lit(salt))
        if salt
        else F.col(key_col).cast("string")
    )
    expr = None
    cum = 0.0
    items = sorted(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        cond = u < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def leakage_free_split(
    df: DataFrame,
    assignments: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    split_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Near-dup-aware train/validation/test split: the split key is the
    document's CLUSTER representative (its ``cluster_col`` from e.g.
    :func:`~metalpipe_spark.operators.dedup.connected_components`; its
    own id when unclustered), so every member of a near-duplicate
    cluster lands in the SAME split.  A plain per-document split leaks
    evaluation answers into training whenever a near-copy straddles the
    boundary — this is the split you actually want after running dedup
    candidate generation anyway.

    Scale shape: one join of docs to the (id, cluster) assignment table
    on the id key, then :func:`split_corpus`'s pure map-side md5
    projection — membership is reproducible across runs, engines, and
    partitionings.
    """
    a = assignments.select(
        F.col(id_col), F.col(cluster_col).alias("__rep")
    )
    keyed = df.join(a, id_col, "left").withColumn(
        "__rep", F.coalesce(F.col("__rep"), F.col(id_col))
    )
    return split_corpus(keyed, "__rep", fractions, split_col, salt).drop("__rep")


def token_budget_sample(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    budget: int | float,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic token-budget subsample: walk the corpus in
    ``order_col`` order and keep each document while it still fits
    ENTIRELY inside ``budget`` total ``weight_col`` (document-atomic —
    the first document that would overflow the budget is dropped, as is
    everything after it).  The standard "give me exactly ~N tokens of
    the best/shuffled data" curation cut.

    Built on :func:`exclusive_prefix_sum` (the shared two-pass global
    prefix engine): a doc survives iff ``prefix + weight <= budget``,
    which equals the inclusive-cumsum rule ``cum <= budget`` — exact
    BIGINT arithmetic for integral weights at any corpus size, never a
    single global window task.
    """
    pref = exclusive_prefix_sum(
        df, weight_col, order_col, num_partitions=num_partitions
    )
    return pref.where(
        F.col("__prefix") + F.col(weight_col) <= F.lit(budget)
    ).drop("__prefix")


def _hashed_grams(
    df: DataFrame,
    text_col: str,
    buckets: int,
    id_cols: list[str],
    bucket_hash: str = "md5",
) -> DataFrame:
    """Hashed unigram+bigram feature rows ``(*id_cols, bucket)`` — one
    row per gram OCCURRENCE, so a plain count per bucket is the
    feature-count vector.  Bigrams are built by zipping two shifted
    slices of the token array (the :func:`operators.text.ngram_logprob`
    trick — direct-child slices evaluate once per row, never per
    element); the single explode multiplies rows ~2x tokens but
    shuffles nothing.  NULL text behaves as empty (one ``''`` unigram),
    so every document stays visible downstream."""
    # Tokenize ONCE into an attribute: codegen does not CSE the regex
    # split across the size/slice/when trees feeding a generator (the
    # ngram_logprob lesson — ~3.5x on the scoring pipeline).
    df = df.withColumn(
        "__tk", F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    )
    toks = F.col("__tk")
    n = F.size(toks)
    safe = F.greatest(n - F.lit(1), F.lit(1))
    bi = F.zip_with(
        F.slice(toks, 1, safe),
        F.slice(toks, 2, safe),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(
        toks, F.when(n >= 2, bi).otherwise(F.array().cast("array<string>"))
    )
    if bucket_hash == "md5":
        h = _hash64(F.col("__g"))  # portable: DuckDB-replayable oracles
    elif bucket_hash == "xxhash64":
        # Production path: JVM-native, ~4x the md5 throughput, same
        # uniformity for bucket folding — NOT oracle-replayable, so the
        # catalog rows stay on md5.  No abs(): pmod already maps
        # negative hashes into [0, buckets), and abs(Long.MIN_VALUE)
        # would throw under ANSI where pmod is total.
        h = F.xxhash64(F.col("__g"))
    else:
        raise ValueError(
            f"bucket_hash must be 'md5' or 'xxhash64', got {bucket_hash!r}"
        )
    return df.select(
        *id_cols, F.explode(grams).alias("__g")
    ).select(
        *id_cols, F.pmod(h, F.lit(buckets)).alias("bucket")
    )


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    smoothing: float = 1.0,
    exact: bool = False,
    bucket_hash: str = "md5",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.,
    NeurIPS 2023): per-document importance ``log w(x) = sum_b c_b(x) *
    (log p_target(b) - log p_raw(b))`` over hashed unigram+bigram
    buckets — the standard public method for tilting a raw web corpus
    toward a target domain without training a classifier.  Returns
    ``(id, n_grams, log_weight)``; resample with
    :func:`dsir_topk_sample` or any weighted sampler.

    Both bucket distributions are add-``smoothing`` estimates over
    ``buckets`` cells.  The log-ratio table is at most ``buckets`` rows
    — it BROADCASTS; the corpus never shuffles to meet it.

    Scale shape: two map-side-combined bucket-count aggregates (target
    is small by definition; the raw-corpus count keys on an even
    60-bit-hash bucket, immune to hot tokens since every occurrence of
    a gram lands in one bucket CELL whose partial count combines
    map-side), one broadcast probe join, one per-doc rollup = one
    data-scale shuffle on the doc key.  At 100 TB: persist the ratio
    table once per target and reuse it across corpus shards.

    ``exact=True`` rounds each gram's log-ratio to 6 dp and accumulates
    in DECIMAL — order-independent sums, so the value hash is stable
    across partitionings and engines (raw double log sums vary in the
    low bits with combine order).

    An EMPTY target degrades to the smoothed-uniform estimate (every
    bucket gets probability ``1/buckets``), so weights reduce to a
    corpus-frequency penalty rather than erroring — but that is rarely
    what you want; check the target selection upstream.
    """
    # One implementation, not three: the full-corpus computation IS the
    # incremental one with an empty store (fold-before-score makes them
    # equal by construction — property-tested), so a tweak to the
    # gram/ratio/probe pipeline can never drift between the batch,
    # incremental, and streaming faces.
    weights, _ = dsir_incremental_weights(
        corpus,
        None,
        dsir_target_counts(target, text_col, buckets, bucket_hash),
        text_col=text_col,
        id_col=id_col,
        buckets=buckets,
        smoothing=smoothing,
        exact=exact,
        bucket_hash=bucket_hash,
    )
    return weights


def _dsir_ratio(
    r_counts: DataFrame,
    t_counts: DataFrame,
    buckets: int,
    smoothing: float,
    exact: bool,
) -> DataFrame:
    """The <=buckets-row log-ratio table from raw/target bucket counts
    (``(bucket, __cr)`` / ``(bucket, __ct)``).  Only buckets PRESENT in
    the raw corpus can ever be probed, so it left-joins from the raw
    side; absent target buckets take the smoothed-zero estimate."""
    s = float(smoothing)
    # Both count tables are referenced twice below (total aggregate +
    # ratio join), and each reference replays its upstream subtree —
    # for the target side the full target-slice gram-hash
    # explode+aggregate, for the raw side a repeat pass over the
    # doc-count table (r17, guide §2.4: duplicated subtrees).  Both are
    # <= buckets rows after aggregation, so a lazy localCheckpoint pins
    # a few KB and halves the upstream passes; an already-truncated
    # input (stream_dsir_sink's tc) just re-caches the tiny table.
    t_counts = t_counts.localCheckpoint(eager=False)
    r_counts = r_counts.localCheckpoint(eager=False)
    t_total = t_counts.agg(F.sum("__ct").alias("__tt"))
    r_total = r_counts.agg(F.sum("__cr").alias("__rt"))
    ratio = (
        r_counts.join(t_counts, "bucket", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(s))
                    / (F.coalesce(F.col("__tt"), F.lit(0)) + F.lit(s * buckets))
                )
                - F.log(
                    (F.col("__cr") + F.lit(s))
                    / (F.col("__rt") + F.lit(s * buckets))
                )
            ).alias("__lr"),
        )
    )
    if exact:
        ratio = ratio.select("bucket", F.round(F.col("__lr"), 6).alias("__lr"))
    return ratio


def _dsir_probe(
    dc: DataFrame, ratio: DataFrame, id_col: str, exact: bool
) -> DataFrame:
    """Per-doc rollup of the broadcast ratio probe over the
    ``(id, bucket, __c)`` count table.  Weights accumulate count x
    log-ratio per cell — identical to the sum over gram occurrences
    (decimal x integer is exact, so a per-occurrence oracle matches
    bit-for-bit)."""
    if exact:
        acc = F.sum(
            F.col("__lr").cast("decimal(18,6)") * F.col("__c")
        ).cast("double")
    else:
        acc = F.sum(F.col("__lr") * F.col("__c"))
    return (
        dc.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            acc.alias("log_weight"),
        )
    )


def dsir_target_counts(
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 8192,
    bucket_hash: str = "md5",
) -> DataFrame:
    """The fixed target-side bucket distribution ``(bucket, __ct)`` —
    compute ONCE per target and persist; it is what
    :func:`dsir_incremental_weights` takes instead of re-scanning the
    target per batch."""
    return _hashed_grams(
        target, text_col, buckets, [], bucket_hash
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("__ct"))


def dsir_incremental_weights(
    new_docs: DataFrame,
    raw_bucket_counts: DataFrame | None,
    target_bucket_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    smoothing: float = 1.0,
    exact: bool = False,
    bucket_hash: str = "md5",
    with_cleanup: bool = False,
):
    """DSIR for a continuously-ingesting corpus: score a NEW batch
    against the raw-corpus bucket distribution seen SO FAR (the
    incremental-dedup shape — re-scanning the whole corpus per batch is
    a non-starter at 100 TB).  Returns ``(weights, updated_counts)``:
    the batch is folded into the store BEFORE scoring, so a single
    batch over the whole corpus reproduces
    :func:`dsir_importance_weights` exactly (tested), and the store is
    one mergeable count row per bucket — at most ``buckets`` rows of
    fixed size, regardless of corpus size.

    ``raw_bucket_counts`` is ``(bucket, __cr)`` from a previous call
    (None for the first batch); ``target_bucket_counts`` is
    :func:`dsir_target_counts` output, fixed across batches.  Persist
    ``updated_counts`` (it is bucket-count sized) before the next
    batch — e.g. through the same manifest-atomic store the
    incremental dedup family uses.

    With ``with_cleanup=True`` a third element is returned: a callable
    that frees the per-batch ``(id, bucket, count)`` localCheckpoint's
    MEMORY_AND_DISK blocks.  A long-running caller (``stream_dsir_sink``)
    MUST invoke it once both returned frames are consumed, or the
    stream pins one doc-count-scale block set per micro-batch for its
    lifetime — the exact leak ``_truncate_lineage``'s handle exists to
    prevent.  Batch callers can ignore it (session teardown frees the
    single block set)."""
    from metalpipe_spark.operators.dedup import _truncate_lineage

    dc, dc_rdd = _truncate_lineage(
        _hashed_grams(new_docs, text_col, buckets, [id_col], bucket_hash)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("__c")),
        reliable=False,
    )
    batch_counts = dc.groupBy("bucket").agg(F.sum("__c").alias("__cr"))
    if raw_bucket_counts is None:
        updated = batch_counts
    else:
        updated = (
            raw_bucket_counts.unionByName(batch_counts)
            .groupBy("bucket")
            .agg(F.sum("__cr").alias("__cr"))
        )
    # The ratio table derives from `updated`, which is consumed once
    # here and returned to the caller — it is <= buckets rows, so the
    # caller's persist/write is cheap and the double evaluation of a
    # few-row aggregate is noise.
    ratio = _dsir_ratio(updated, target_bucket_counts, buckets, smoothing, exact)
    weights = _dsir_probe(dc, ratio, id_col, exact)
    if with_cleanup:
        return weights, updated, lambda: dc_rdd.unpersist(False)
    return weights, updated


def dsir_topk_sample(
    corpus: DataFrame,
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    temperature: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """DSIR selection: the ``k`` highest-importance documents (ties
    broken by minimum id — a total order), planned as
    TakeOrderedAndProject (per-partition partial top-k, never a global
    sort).

    With ``temperature`` set, selection is Gumbel-top-k sampling
    WITHOUT replacement (Kool et al., ICML 2019) — exactly the paper's
    importance RESAMPLING, with inclusion following
    ``softmax(log_weight / temperature)`` instead of the hard argmax:
    each row's key is ``log_weight/T + Gumbel(u)`` where ``u`` is the
    portable md5 uniform of ``(id, seed)``, so the draw is reproducible
    across engines, re-runs, and partitionings (the
    weighted_sample_per_group contract).  Keys quantize to 12 decimals
    with the id as tie-break; a row whose uniform lands exactly on 0
    (probability 2^-60) keys to -inf and is simply never selected —
    deterministic on both engines."""
    keyed = weights.select(id_col, weight_col)
    if temperature is not None:
        u = deterministic_uniform(
            F.concat(F.col(id_col).cast("string"), F.lit(f"|{int(seed)}"))
        )
        gumbel = -F.log(-F.log(u))
        key = F.round(
            F.col(weight_col) / F.lit(float(temperature)) + gumbel, 12
        )
        keyed = keyed.withColumn("__gkey", key)
        order = [F.desc("__gkey"), F.asc(id_col)]
    else:
        order = [F.desc(weight_col), F.asc(id_col)]
    picked = keyed.orderBy(*order).limit(k)
    if temperature is not None:
        picked = picked.drop("__gkey")
    return corpus.join(picked, id_col).withColumnRenamed(
        weight_col, "dsir_log_weight"
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Snapshot delta between two corpus versions — ``(id, change)``
    with ``change`` ∈ added / removed / changed / unchanged — the
    primitive an incremental corpus refresh builds on (recrawl
    scheduling, delta-only re-dedup, changelog publication).

    Content identity is the portable md5 of the content columns
    concatenated with a 0x1f unit separator (NULL-safe: missing values
    hash as the empty string but a NULL marker byte keeps
    ``("a", NULL)`` ≠ ``("aNULL",)``), so the comparison replays in any
    engine.  Plan shape: each side reduces to (id, hash) — column-
    pruned at the scan — then ONE full-outer equi-join on id; at
    100 TB bucket both snapshots on ``id_col`` so the join co-locates
    (sinks/writers bucketed layout), making the whole diff
    shuffle-free."""
    sep = F.lit("\x1f")

    def fp(df: DataFrame) -> Column:
        parts: list[Column] = []
        for i, c in enumerate(content_cols):
            if i:
                parts.append(sep)
            parts.append(
                F.when(F.col(c).isNull(), F.lit("\x00null"))
                .otherwise(F.col(c).cast("string"))
            )
        return F.md5(F.concat(*parts))

    o = old.select(F.col(id_col).alias("__id"), fp(old).alias("__h_old"))
    n = new.select(F.col(id_col).alias("__id"), fp(new).alias("__h_new"))
    joined = o.join(n, "__id", "full_outer")
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("__id").alias(id_col), change.alias("change")
    )
