"""Structured Streaming realizations of the reference's streaming
constructs (SURVEY.md §2.11).

The reference's streaming layer is thread-per-node with wall-clock state:
a directory poller (node.py:1500-1525), a stubbed windowed join keyed by
a ``TimedDict`` cache (node.py:1528-1552), and a stubbed time-window
accumulator (node.py:1453-1460).  The Spark forms are event-time-correct
versions of the documented intent:

* watchdog        → file source (built-in new-file discovery, exactly-once)
* TimedDict join  → stream-stream join bounded by watermarks + time range
* window emit     → tumbling/sliding/session windows with late-data policy
* throttle        → trigger intervals (not data-plane)
* batch markers   → foreachBatch micro-batch boundaries
* termination     → query lifecycle (stop/awaitTermination)

Everything here is also scale-design: watermarks bound state so a
1000-executor streaming job doesn't accumulate unbounded join caches, and
``availableNow`` triggers let the same pipeline run as an incremental
batch backfill over 100 TB of history.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


from contextlib import contextmanager


@contextmanager
def state_partition_scope(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query is
    planned and run, then restore it.

    Stateful streaming cost is dominated by state-store *instances*
    (one per shuffle partition per stateful operator, each with its own
    files, snapshots, and maintenance), not by rows: a 600k-row
    stream-stream join is ~3x faster on 8 state partitions than 32,
    while a 100 TB stream needs hundreds.  So the partition count must
    track state size — use :func:`sized_state_partitions` to derive it
    from the source, and this scope to apply it only to the streaming
    query (batch queries keep the session default).  The count is
    frozen into the checkpoint at first start, matching Spark's rule
    that state partitioning cannot change across restarts.

    The pin is session-global while the scope is open: a query planned
    CONCURRENTLY on the same SparkSession inherits the pinned count.
    This helper assumes the usual single-threaded driver; for
    multi-threaded drivers, plan the scoped query on a cloned session
    (``spark.newSession()`` shares the cluster but isolates conf)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def sized_state_partitions(
    source_bytes: int, target_bytes_per_partition: int = 32 * 1024 * 1024,
    floor: int = 8, ceiling: int = 10_000,
) -> int:
    """State partitions proportional to source volume: one per
    ``target_bytes_per_partition`` of input, clamped to [floor, ceiling].
    At sf0.1 (~10 MB events) this yields the floor; at 100 TB it yields
    thousands — the operator's scale knob, overridable per deployment."""
    return max(floor, min(ceiling, source_bytes // target_bytes_per_partition + 1))


def _event_time_safe(df: DataFrame, *ts_cols: str) -> DataFrame:
    """Watermarks require TIMESTAMP; newer Spark reads un-annotated parquet
    as TIMESTAMP_NTZ, which Structured Streaming rejects outright
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Cast any NTZ event-time column
    to ``timestamp`` — session tz is pinned UTC, so the instant is
    unchanged."""
    dtypes = dict(df.dtypes)
    for c in ts_cols:
        if dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def file_watchdog(
    spark: SparkSession,
    directory: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """LocalDirectoryWatchdog (node.py:1500-1525) — the reference polls
    mtimes every ``check_interval``; the file source discovers new files
    transactionally (checkpointed, no double-reads after restart).
    ``glob`` filters filenames (the file source requires a directory)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(directory)
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    return _event_time_safe(df, *ntz)


def rate_emitter(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """ConstantEmitter-with-delay in streaming form (node.py:1432-1450):
    the rate source emits (timestamp, value) rows on a schedule."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def tumbling_window(
    df: DataFrame,
    ts_col: str,
    window_size: str,
    aggs: list,
    watermark: str = "30 seconds",
    group_by: list[str] | None = None,
) -> DataFrame:
    """TimeWindowAccumulator intent (node.py:1453-1460): "every N seconds,
    the last M seconds of data" — as an event-time tumbling window with a
    watermark-defined late-data bound (the reference had wall-clock only,
    SURVEY §7.4.4 documents the contract change)."""
    keys = [F.window(ts_col, window_size).alias("window")] + [
        F.col(c) for c in (group_by or [])
    ]
    df = _event_time_safe(df, ts_col)
    return df.withWatermark(ts_col, watermark).groupBy(*keys).agg(*aggs)


def sliding_window(
    df: DataFrame,
    ts_col: str,
    window_size: str,
    slide: str,
    aggs: list,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Sliding variant — emit every ``slide``, covering ``window_size``."""
    df = _event_time_safe(df, ts_col)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size, slide).alias("window"))
        .agg(*aggs)
    )


def session_window(
    df: DataFrame,
    ts_col: str,
    gap: str,
    key_cols: list[str],
    aggs: list,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Session windows (gap-based) — beyond the reference's surface but
    part of the engine's windowing family."""
    df = _event_time_safe(df, ts_col)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("session"), *key_cols)
        .agg(*aggs)
    )


def streaming_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    window: str = "30 seconds",
    watermark: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """StreamingJoin (node.py:1528-1552) — the reference stubbed an
    exact-key join within a ``window``-second TimedDict cache.  The
    event-time contract: keys match when both sides' timestamps fall
    within ``window`` of each other; watermarks bound the buffered state
    on both sides (state TTL, which the TimedDict approximated with
    wall-clock expiry)."""
    keys = [on] if isinstance(on, str) else list(on)
    lw = _event_time_safe(left, left_ts).withWatermark(left_ts, watermark)
    rw = _event_time_safe(right, right_ts).withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    range_cond = (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {window}")) & (
        rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {window}")
    )
    joined = lw.join(rw, cond & range_cond, how)
    # retain_input semantics: drop the duplicate right-side key columns.
    for k in keys:
        joined = joined.drop(rw[k])
    return joined


def deduplicate_stream(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "30 seconds"
) -> DataFrame:
    """Streaming exact-dedup within the watermark horizon — the streaming
    face of the dedup family (state is bounded by the watermark)."""
    df = _event_time_safe(df, ts_col)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_running_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
    timeout_seconds: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    streaming form of the reference's per-node ``accumulator`` dict
    (node.py:201) / RowStatCollector (table_nodes.py:46-84): a running
    (count, sum, min, max) per key, updated per micro-batch, state kept in
    the state store (distributed, checkpointed) rather than a node attr.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} long, n long, total double, vmin double, vmax double"
    )
    state_schema = "n long, total double, vmin double, vmax double"

    def update(key, pdfs, state):
        n, total, vmin, vmax = (
            state.get if state.exists else (0, 0.0, float("inf"), float("-inf"))
        )
        for pdf in pdfs:
            vals = pdf[value_col].astype(float)
            n += int(vals.count())
            total += float(vals.sum())
            if len(vals):
                vmin = min(vmin, float(vals.min()))
                vmax = max(vmax, float(vals.max()))
        state.update((n, total, vmin, vmax))
        if timeout_seconds is not None:
            state.setTimeoutDuration(timeout_seconds * 1000)
        import pandas as pd

        yield pd.DataFrame(
            {key_col: [key[0]], "n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_seconds is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def run_to_memory(
    df: DataFrame, query_name: str, spark: SparkSession, output_mode: str = "append"
) -> DataFrame:
    """Execute a streaming DataFrame with an availableNow trigger into a
    memory sink and return the materialized result — the test/backfill
    path (MockNode's role, node.py:1016-1031)."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def foreach_batch_sink(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "append",
):
    """BatchStart/BatchEnd markers (message/batch.py:13-21) — the logical
    batch is the micro-batch: ``fn(batch_df, batch_id)`` sees exactly one
    delimited batch per call."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_sink(
    df: DataFrame,
    path: str,
    key_cols: list[str] | str,
    partition_col: str,
    checkpoint: str,
    upsert_checkpoint_dir: str | None = None,
    order_col: str | None = None,
    manifest: bool = False,
):
    """Continuous MERGE: each micro-batch upserts into a partitioned
    parquet target (matched keys replaced, new keys inserted) — the
    streaming face of ``sinks.writers.upsert_parquet`` and the engine's
    CDC-apply pattern.  ``manifest=True`` publishes each batch through
    the versioned-manifest protocol, upgrading readers that use
    ``load_published`` to snapshot-consistent scans (see
    ``upsert_parquet``).  Exactly-once comes from the combination of the
    streaming checkpoint (no batch replayed after commit) and the
    idempotence of MERGE on key (a replayed batch rewrites the same
    rows to the same values).  State is bounded: each batch touches
    only its own partitions.  ``order_col`` resolves multiple updates
    per key within one micro-batch last-wins (CDC apply).

    **Atomicity**: with ``upsert_parquet``'s default staged promotion a
    touched partition is always either old-complete or new-complete —
    never partial.  A crash mid-promotion leaves every touched
    partition with at least one complete copy on durable storage
    (stage, live, or rename-aside), and the NEXT ``upsert_parquet``
    call self-heals that state before merging — so the checkpoint
    replay's MERGE sees complete data and restores the batch's full
    effect, non-batch rows included.  (Replay alone only re-applies the
    BATCH's rows; it is the recovery pass that preserves everything
    else — see ``_recover_staged_promotion``.)  Readers racing the
    promotion can observe a mix of old and new partitions; use a table
    format (Delta/Iceberg) for reader-visible atomicity."""
    from metalpipe_spark.sinks.writers import upsert_parquet

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(
            batch_df, path, key_cols, partition_col,
            checkpoint_dir=upsert_checkpoint_dir, order_col=order_col,
            manifest=manifest,
        )

    return foreach_batch_sink(df, apply, checkpoint)


def stream_semantic_dedup_sink(
    df: DataFrame,
    centroids: list[list[float]] | None,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_table: DataFrame | None = None,
    compact_segments: int = 8,
):
    """Continuously-ingesting semantic dedup: each micro-batch dedups
    against the cell store persisted so far
    (``similarity.incremental_semantic_dedup``, GEMM path), survivors
    append to ``kept_path`` and extend the store — the embedding-space
    member of the streaming dedup family (exact fingerprints and
    MinHash bands have the same shape, test_streaming.py).

    Output is EXACTLY-ONCE across micro-batch replays (the shared
    ``_incremental_store_sink`` contract): kept rows write to one
    idempotent batch directory before the store's manifest flips, the
    manifest carries the batch's commit record, and a replayed
    committed batch is a no-op — no duplicate survivors, no lost rows.

    The store itself publishes through ``_incremental_store_sink``'s
    versioned-manifest protocol (the same reader-atomicity as
    ``upsert_parquet(manifest=True)``): the survivor-vector store is
    strictly append-only, so each batch writes ONLY its new rows as a
    delta segment (``append_only=True`` — O(batch) per trigger; the
    store is VECTOR-scale, an embedding per survivor, so a full
    rewrite per trigger would be the dominant bill at crawl scale),
    flips an immutable manifest referencing prior segments plus the
    delta, size-tier-folds segments once ``compact_segments``
    similar-sized ones accumulate (LSM-style, O(log) write
    amplification), and
    self-heals any crash debris at the start of the next batch — no
    crash point leaves zero complete copies, and a reader using
    ``load_store`` racing the swap sees entirely-old or entirely-new
    state.  Batch-scale GEMM results are materialized once inside
    ``incremental_semantic_dedup`` so the kept-append and the version
    write don't re-run the dedup kernels; the store itself streams
    scan→parquet exactly once.

    ``centroid_table`` (a ``fit_semantic_cells`` table, mutually
    exclusive with literal ``centroids``) routes every micro-batch
    through :func:`~metalpipe_spark.operators.similarity.
    incremental_semantic_dedup_scaled` — the corpus-scaled geometry
    whose per-batch cost stays constant as the store accumulates; the
    store's ``cgen`` stamps make a geometry swap mid-stream fail
    mechanically instead of silently mis-bucketing."""
    if (centroids is None) == (centroid_table is None):
        raise ValueError(
            "stream_semantic_dedup_sink: pass exactly one of centroids "
            "(literal, fixed cells) or centroid_table (fitted, "
            "corpus-scaled cells)"
        )
    from metalpipe_spark.operators.similarity import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_scaled,
    )

    geometry_checked = {"done": False}

    def step(batch_df: DataFrame, store: DataFrame | None):
        if centroid_table is not None:
            fresh_pair = incremental_semantic_dedup_scaled(
                batch_df, store, centroid_table,
                threshold=threshold, vec_col=vec_col, id_col=id_col,
                # The guard's store scan is O(store) per call; after the
                # first batch every store version was written by THIS
                # sink under the same table, so re-verifying each
                # trigger would re-pay the scan for a geometry that
                # cannot have changed.
                check_geometry=not geometry_checked["done"],
                return_delta=True,
            )
            geometry_checked["done"] = True
            return fresh_pair
        return incremental_semantic_dedup(
            batch_df, store, centroids,
            threshold=threshold, vec_col=vec_col, id_col=id_col,
            return_delta=True,
        )

    return _incremental_store_sink(
        df, kept_path, store_path, checkpoint, step,
        append_only=True, compact_segments=compact_segments,
    )


def stream_exact_substr_sink(
    df: DataFrame,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_length: int = 32,
    hash: str = "md5",
    compact_segments: int = 8,
):
    """Continuously-ingesting ExactSubstr dedup: each micro-batch's
    duplicated token windows are removed against the distinct-window
    store persisted so far (``dedup.incremental_exact_substr`` —
    dual-stream quad-modulus window identity, geometry markers), the
    cleaned documents append to ``kept_path`` and the store extends —
    completing the streaming dedup family (exact fingerprints, MinHash
    bands, semantic cells, image codes and embeddings already have this
    face).  Exactly-once, manifest-atomic, crash-healing: the shared
    ``_incremental_store_sink`` contract.  When files arrive in id
    order, the concatenated kept output equals the one-shot
    :func:`~metalpipe_spark.operators.dedup.exact_substr_dedup` over
    everything (the incremental operator's property test).  Durable
    state: one row per DISTINCT window seen — mergeable, storage-side,
    never executor memory.

    The window store is strictly append-only, so the sink publishes
    DELTA SEGMENTS (``append_only=True``): each batch writes only its
    new first-occurrence windows and the manifest flip references the
    prior segments plus the delta — per-batch store write is O(batch),
    not O(total windows seen), the property that makes this face
    viable at crawl scale where the store is token-shaped.  Once
    ``compact_segments`` similar-sized segments accumulate they fold
    into one (size-tiered, LSM-style — O(log) write amplification,
    bounded reader fan-in).  Geometry markers verify on the FIRST
    batch only: later versions were written by this sink under the
    same geometry, so re-scanning the token-scale store's marker
    columns per trigger would pay O(store) for an invariant."""
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    geometry_checked = {"done": False}

    def step(batch_df: DataFrame, store: DataFrame | None):
        # with_cleanup: the sink drops the batch's window-frame cache
        # after the store swap instead of pinning one per micro-batch.
        out = incremental_exact_substr(
            batch_df,
            store,
            text_col=text_col,
            id_col=id_col,
            min_length=min_length,
            hash=hash,
            with_cleanup=True,
            return_delta=True,
            check_geometry=not geometry_checked["done"],
        )
        geometry_checked["done"] = True
        return out

    return _incremental_store_sink(
        df, kept_path, store_path, checkpoint, step,
        append_only=True, compact_segments=compact_segments,
    )


def stream_encode_sink(
    df: DataFrame,
    model,
    out_path: str,
    checkpoint: str,
    tokenizer: str = "bpe",
    text_col: str = "text",
    id_col: str = "doc_id",
    **encode_kwargs,
):
    """Streaming tokenizer ENCODE — the crawl-ingestion face the
    tokenizer families were missing (every dedup/embed family already
    had a stream sink): documents tokenize on arrival and the encoded
    rows land in parquet, ready to feed ``pack_sequences`` without a
    re-batch.  ``tokenizer`` picks the family — ``bpe`` (merge-table
    rank-greedy replay), ``wordpiece`` (greedy longest-match), or
    ``unigram`` (Viterbi) — and ``model`` is that encoder's
    merges/vocab/pieces argument (a DataFrame model is collected ONCE
    at plan build, driver-side, model-scale by construction).

    Stateless by design: the vocab/merge table broadcasts in the UDF
    closure, no store, no watermark — exactly-once delivery is the
    parquet sink's own checkpointed file log, so there is no manifest
    protocol to pay.  Per-batch cost is O(batch); nothing scales with
    stream lifetime.  Under ``availableNow`` over a static directory
    the output equals the batch encoder over the same files (the
    q_stream_embed contract, pinned by the catalog row's oracle)."""
    from metalpipe_spark.operators.bpe import bpe_encode, wordpiece_encode
    from metalpipe_spark.operators.unigram import unigram_encode

    encoders = {
        "bpe": bpe_encode,
        "wordpiece": wordpiece_encode,
        "unigram": unigram_encode,
    }
    if tokenizer not in encoders:
        raise ValueError(
            f"stream_encode_sink: unknown tokenizer {tokenizer!r} "
            f"(expected one of {sorted(encoders)})"
        )
    encoded = encoders[tokenizer](
        df, model, text_col=text_col, id_col=id_col, **encode_kwargs
    )
    return (
        encoded.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint)
        .option("path", out_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_score_sink(
    df: DataFrame,
    lm: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int | None = None,
    oov_logprob: float = -8.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = False,
    thresholds: "tuple[float, float] | None" = None,
    unk_token: str | None = "<unk>",
):
    """Streaming perplexity scoring — the SERVING half of the CCNet
    curation loop (r16 verdict task 4): documents score on arrival
    against a broadcast backoff LM (:func:`~metalpipe_spark.operators.
    text.ngram_logprob_backoff` per micro-batch) and land in parquet
    as ``(id, mean_logprob[, bucket])``.  This is exactly the 100 TB
    shape — train once, broadcast the model, stream the crawl through
    it.

    Stateless across batches: a document's score depends only on its
    own text, so there is no store, no watermark, no manifest
    protocol.  The per-doc gram ROLLUP inside the scorer is a
    batch-local aggregate, which Structured Streaming would treat as
    unbounded stateful aggregation — so the sink runs the batch
    scorer under ``foreachBatch`` with the idempotent one-directory-
    per-micro-batch overwrite write (the ``_incremental_store_sink``
    kept-output rule: replays rewrite ``batch={ckpt}-{id}`` with
    identical rows; batch dirs are namespaced by checkpoint lineage).

    ``lm`` is eagerly local-checkpointed ONCE at sink build — a
    trainer PLAN passed directly would otherwise silently retrain per
    micro-batch — and ``n`` resolves once, not per trigger.
    ``thresholds=(t1, t2)`` adds the CCNet head/middle/tail bucket
    column with PINNED boundaries (a stream cannot take corpus-wide
    percentiles statelessly; production calibrates on a sample — the
    :func:`~metalpipe_spark.operators.text.perplexity_buckets` batch
    face — then streams with the literals).  ``exact=True`` applies
    the batch face's 6-dp rounding before the threshold compare, so
    ``availableNow`` over a static directory equals
    ``perplexity_buckets(backoff=True)`` over the same files row for
    row (the q_stream_ccnet_buckets oracle contract)."""
    import hashlib

    from metalpipe_spark.operators.text import ngram_logprob_backoff

    lm = lm.localCheckpoint(eager=True)
    if n is None:
        row = lm.agg(F.max("order")).first()
        if row[0] is None:
            raise ValueError("stream_score_sink: empty LM table")
        n = int(row[0])
    if thresholds is not None:
        t1, t2 = (float(t) for t in thresholds)
    # The <unk> unigram lookup is a model-scale driver job; the model
    # is fixed for the sink's lifetime, so resolve it ONCE here instead
    # of once per micro-batch inside the scorer's plan build.
    unk_row = (
        lm.where((F.col("order") == 1) & (F.col("ngram") == unk_token))
        .select("logprob")
        .first()
        if unk_token is not None
        else None
    )
    unk_lp = float(unk_row["logprob"]) if unk_row is not None else None
    ckpt_tag = hashlib.md5(checkpoint.encode()).hexdigest()[:8]

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        scored = ngram_logprob_backoff(
            batch_df,
            lm,
            n=n,
            oov_logprob=oov_logprob,
            text_col=text_col,
            id_col=id_col,
            exact=exact,
            unk_token=unk_token,
            resolved_unk_logprob=unk_lp,
        )
        if exact:
            scored = scored.withColumn(
                "mean_logprob", F.round("mean_logprob", 6)
            )
        if thresholds is not None:
            scored = scored.withColumn(
                "bucket",
                F.when(F.col("mean_logprob") > t2, F.lit("head"))
                .when(F.col("mean_logprob") > t1, F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
        scored.write.mode("overwrite").parquet(
            f"{out_path}/batch={ckpt_tag}-{batch_id}"
        )

    return (
        df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


_STORE_VDIR_RE = r"v-(\d{10})"


def load_store(spark, store_path: str) -> DataFrame:
    """Read an ``_incremental_store_sink`` store at its CURRENT manifest
    version — the reader-atomic entry point: a scan racing a store swap
    resolves one published version's exact file set (entirely-old or
    entirely-new, never a mix).  This is THE reader for store state —
    data lives under versioned subdirectories, which a plain
    non-recursive ``spark.read.parquet(store_path)`` cannot see.
    Delegates to the same ``load_published`` machinery as
    ``upsert_parquet(manifest=True)``."""
    from metalpipe_spark.sinks.writers import load_published

    return load_published(spark, store_path)


def stream_ngram_count_sink(
    df: DataFrame,
    store_path: str,
    checkpoint: str,
    n: int = 3,
    text_col: str = "text",
    compact_segments: int = 8,
):
    """Incrementally maintain the ``(order, ngram, n_count)`` gram
    COUNT table over a document stream — the statistic that makes LM
    training corpus-scan-free: counts are the sufficient statistic for
    every ``train_backoff_lm`` smoothing variant, so the crawl is
    tokenized exactly ONCE as it arrives and any number of models
    (orders, discounts, prune thresholds) train later from the store
    (``train_backoff_lm(counts=load_ngram_counts(...))``) without
    touching the corpus again.  At 100 TB the corpus scan is the
    bill; the count store is gram-table-scale.

    Store shape: each micro-batch publishes its OWN gram counts as a
    delta segment (additive — the store's logical content is the
    keywise SUM of all segments, which :func:`load_ngram_counts`
    computes with one map-side-combined aggregate at read).  This
    rides the append-only manifest protocol unchanged — O(batch)
    publish, reader-atomic flips, crash-heal — and the size-tiered
    fold passes a sum-by-key ``fold_merge``, so folds COMPACT
    duplicate grams (LSM merge) and fold outputs stay
    distinct-gram-scale instead of concatenating per-batch rows
    forever.  The kept output records each batch's distinct-gram
    counts (provenance).  Exactly-once: the manifest batch_id guard,
    as every store sink."""
    from metalpipe_spark.operators.text import ngram_count_table

    def step(batch_df: DataFrame, store: DataFrame | None):
        # One count table, TWO writes (kept provenance + store delta):
        # the lazy checkpoint makes the second write replay counted
        # rows instead of re-tokenizing the batch.
        batch_counts = ngram_count_table(
            batch_df, n, text_col=text_col
        ).localCheckpoint(eager=False)
        return batch_counts, batch_counts

    def fold_merge(union: DataFrame) -> DataFrame:
        return union.groupBy("order", "ngram").agg(
            F.sum("n_count").alias("n_count")
        )

    # kept output == the delta, so reuse store_path's sibling for the
    # provenance rows
    return _incremental_store_sink(
        df,
        store_path + "_batches",
        store_path,
        checkpoint,
        step,
        append_only=True,
        compact_segments=compact_segments,
        fold_merge=fold_merge,
    )


def load_ngram_counts(spark, store_path: str) -> DataFrame:
    """Read a :func:`stream_ngram_count_sink` store as THE gram count
    table: segments are additive per-batch (or folded) count deltas,
    so the logical table is one keywise sum — map-side combined, one
    gram-table-scale aggregate.  Feed straight to
    ``train_backoff_lm(counts=...)``."""
    return (
        load_store(spark, store_path)
        .groupBy("order", "ngram")
        .agg(F.sum("n_count").alias("n_count"))
    )


def _tiered_fold(
    spark, fs, hpath, dst, store_path, data_files,
    parts: dict, version: int, fan_in: int, created: set,
    fold_merge=None,
):
    """Size-tiered (LSM-style) segment folding for
    :func:`_incremental_store_sink`'s append-only stores: group live
    segment directories into power-of-two BYTE-SIZE tiers and, while
    any tier holds at least ``fan_in`` segments, merge that tier's
    segments into one new version directory (read the union back from
    disk, write once), cascading upward as merged outputs land in
    higher tiers.

    Why tiered instead of the old every-K full fold: on an append-only
    stream the store grows forever, so a periodic full rewrite costs
    amortized O(|store|/K) PER BATCH — over 1000 triggers that is ~15
    full-store rewrites.  Here a byte is rewritten only when its
    segment climbs a tier, ~log_{fan_in}(batches) times over the
    stream's whole lifetime, and each fold touches only similar-sized
    segments (merging a giant with a fresh delta would pay the giant's
    bytes for no fan-in gain).  Reader fan-in stays bounded at about
    ``fan_in`` segments per tier times O(log) tiers.

    Crash safety is inherited unchanged: every fold output is an
    unflipped ``v-{N}`` directory until the caller's single manifest
    flip; debris from a crash mid-fold matches the version-dir pattern
    and reconciles away on the next batch.  Returns the (possibly
    advanced) version counter and the updated dirs->files mapping;
    appends every directory it creates to ``created`` so the caller
    can GC cascade intermediates immediately after the flip.

    ``fold_merge`` (optional) transforms the unioned segments before
    the fold output is written — the LSM merge function.  For stores
    whose segments are ADDITIVE DELTAS (the n-gram count store: each
    segment holds per-batch counts and readers aggregate), passing
    the sum-by-key aggregate here makes every fold COMPACT duplicate
    keys instead of merely concatenating them, so fold outputs stay
    distinct-key-scale.  Correctness does not depend on it (readers
    aggregate either way); it bounds fold-output size."""
    import math

    while True:
        sizes = {}
        for d in parts:
            total = 0
            for st in fs.listStatus(hpath(dst, d)):
                if not st.isDirectory():
                    total += st.getLen()
            sizes[d] = total
        tiers: dict[int, list] = {}
        for d, s in sizes.items():
            tiers.setdefault(int(math.log2(max(s, 1))), []).append(d)
        ripe = sorted(t for t, ds in tiers.items() if len(ds) >= fan_in)
        if not ripe:
            return version, parts
        merge = sorted(tiers[ripe[0]])
        version += 1
        out_dir = f"v-{version:010d}"
        union = spark.read.parquet(
            *[f"{store_path}/{d}" for d in merge]
        )
        if fold_merge is not None:
            union = fold_merge(union)
        union.write.mode("overwrite").parquet(f"{store_path}/{out_dir}")
        created.add(out_dir)
        for d in merge:
            parts.pop(d)
        parts[out_dir] = data_files(fs, hpath(dst, out_dir))


def _incremental_store_sink(
    df: DataFrame,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    step,
    append_only: bool = False,
    compact_segments: int = 8,
    fold_merge=None,
):
    """The shared skeleton of every store-backed incremental dedup sink
    (semantic cells, image codes, fingerprints, substring windows): per
    micro-batch, read the store at its current manifest version, run
    ``step(batch_df, store) -> (fresh, updated_store[, cleanup])``,
    append the fresh rows, publish the store's next version (a DELTA
    segment for append-only stores — every dedup store sink; a full
    rewrite only for merge-style stores whose state is bounded, like
    DSIR's fixed bucket-count table), then flip the manifest — the
    same reader-atomic versioned publish as
    ``upsert_parquet(manifest=True)`` (one immutable
    ``_manifest-v{N}.json`` per version, flipped by a single rename),
    so a reader racing the swap sees entirely-old or entirely-new state
    and NO crash point ever leaves zero complete copies on disk:

    ``append_only=True`` is the scale path for stores that only ever
    GROW (the ExactSubstr window store: every version is the previous
    one plus the batch's new rows): ``step`` returns the batch's DELTA
    rows as its second element, and the sink publishes them as a NEW
    segment directory while the flipped manifest references the prior
    version's directories PLUS the delta — per-batch write cost drops
    from O(total store) to O(batch), which at 100 TB is the difference
    between the dedup being the bill and the store write being the
    bill.  The manifest body was always a dirs→files dict, so readers
    (``load_published``) need no change and reader atomicity is
    untouched: a racing scan still resolves exactly one manifest's
    file set.  Segment growth is bounded by SIZE-TIERED folding
    (:func:`_tiered_fold`, r16 verdict task 3): once
    ``compact_segments`` similar-sized segments accumulate (power-of-
    two byte tiers) they merge into one directory, cascading upward
    LSM-style — per-byte write amplification is O(log #batches) over
    the stream's lifetime instead of the every-K full fold's periodic
    O(store), and reader fan-in/small-file growth stay bounded at
    ~``compact_segments`` per tier; crash points during a fold heal
    exactly like any unflipped version dir.

    - crash before the manifest flip → the new ``v-{N+1}`` dir is
      unlisted debris; the next batch reconciles it away and retries.
    - crash after the flip, before old-version GC → the superseded
      ``v-{N}`` dir lingers; the next batch GCs it.

    Layout: ``store_path/v-{N:010d}/part-*.parquet`` + manifests.  A
    pre-manifest flat store (data files at the top level, possibly with
    a crashed ``_next`` sibling from the old delete-then-rename swap)
    is adopted in place: ``_next`` promotes first if it holds the only
    copy, then top-level files move into ``v-0000000001`` and manifest
    v1 publishes them — idempotent under crashes (file moves are
    re-runnable; the manifest appears only after every file is in).

    A ``cleanup`` callable (optional third element of ``step``'s
    return) runs after the swap so a step that materialized batch-scale
    intermediates can drop their blocks instead of pinning one set per
    micro-batch for the stream's lifetime.  One implementation, every
    sink — a hand-copied swap in a second sink would silently drift
    from the healed one."""
    import re

    from metalpipe_spark.sinks.writers import (
        _write_manifest,
        load_published,
        read_manifest_body,
    )

    import hashlib

    spark = df.sparkSession
    next_path = store_path + "_next"
    # Kept-output batch directories are namespaced by checkpoint
    # lineage: batch ids restart at 0 for every new query over the same
    # store, and two lineages overwriting each other's batch=0 would
    # silently drop committed rows.
    ckpt_tag = hashlib.md5(checkpoint.encode()).hexdigest()[:8]

    def _data_files(fs, dir_path):
        return sorted(
            f.getPath().getName()
            for f in fs.listStatus(dir_path)
            if not f.isDirectory()
            and not f.getPath().getName().startswith(("_", "."))
        )

    def _apply_inner(batch_df: DataFrame, batch_id: int) -> None:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path
        src = hpath(next_path)
        dst = hpath(store_path)
        fs = dst.getFileSystem(hconf)
        # Legacy self-heal: the old delete-then-rename swap could crash
        # with the only complete copy at _next; promote it before
        # anything is read (skipping this would dedup the replayed
        # batch against nothing and then bury the recovery copy).
        if not fs.exists(dst) and fs.exists(src):
            if not fs.rename(src, dst):
                raise IOError(
                    f"store recovery failed: rename {next_path} -> {store_path}"
                )
        cur = read_manifest_body(spark, store_path)
        if cur is None and fs.exists(dst):
            # Adopt a pre-manifest flat store: move top-level data files
            # into a version dir, publish manifest v1 over the result.
            # A durable MARKER makes every crash point resumable — the
            # unmarked version of this sequence had a window (all files
            # moved, manifest not yet written) where the next batch saw
            # "no manifest, no flat files", treated the store as empty,
            # and overwrite-destroyed v1, the only complete copy.
            import json as _json

            marker = hpath(dst, "_adopting-v1.json")
            flat = _data_files(fs, dst)
            if flat and not fs.exists(marker):
                tmp = hpath(dst, "._adopting-v1.json.tmp")
                out = fs.create(tmp, True)
                try:
                    out.write(bytearray(_json.dumps(sorted(flat)).encode()))
                finally:
                    out.close()
                if not fs.rename(tmp, marker):
                    raise IOError(f"adoption marker failed at {store_path}")
            if fs.exists(marker):
                vdir = hpath(dst, "v-0000000001")
                fs.mkdirs(vdir)
                stream = fs.open(marker)
                try:
                    names = _json.loads(
                        bytes(
                            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                        ).decode("utf-8")
                    )
                finally:
                    stream.close()
                for fname in names:
                    src_f = hpath(dst, fname)
                    # Idempotent resume: a file already moved by a
                    # crashed predecessor is simply absent here.
                    if fs.exists(src_f) and not fs.rename(
                        src_f, hpath(vdir, fname)
                    ):
                        raise IOError(
                            f"store adoption failed: {fname} in {store_path}"
                        )
                _write_manifest(
                    spark, store_path, 1,
                    {"v-0000000001": _data_files(fs, vdir)},
                )
                fs.delete(marker, False)
                cur = read_manifest_body(spark, store_path)
        elif cur is not None:
            # A marker surviving past its manifest (crash between the
            # v1 flip and the marker delete) is spent — drop it.
            stale = hpath(dst, "_adopting-v1.json")
            if fs.exists(stale):
                fs.delete(stale, False)
        if cur is not None:
            version, body = cur
            # Exactly-once replay guard: the manifest records the LAST
            # COMMITTED micro-batch OF THIS CHECKPOINT LINEAGE.  A
            # post-crash replay of an already-flipped batch must be a
            # no-op — its kept rows were written before the flip, and
            # re-running the step against the post-flip store would
            # recompute an EMPTY fresh set and overwrite those rows
            # away.  Batch ids only mean anything within one checkpoint
            # (a NEW query over the same store restarts at 0 and must
            # NOT be skipped), so the marker is keyed by the checkpoint
            # path.
            done = body.get("batch_id")
            if (
                done is not None
                and body.get("ckpt") == checkpoint
                and batch_id <= done
            ):
                return
            live_parts = body["partitions"]
            live_dirs = set(live_parts)
            # Reconcile: version dirs the manifest does not name are
            # crash debris (a v{N+1} write that never flipped, or a
            # superseded v{N-1} whose GC was interrupted).
            for status in fs.listStatus(dst):
                name = status.getPath().getName()
                if (
                    status.isDirectory()
                    and re.fullmatch(_STORE_VDIR_RE, name)
                    and name not in live_dirs
                ):
                    fs.delete(status.getPath(), True)
            store = load_published(spark, store_path)
        else:
            version, live_parts, live_dirs, store = 0, {}, set(), None
        out = step(batch_df, store)
        fresh, updated = out[0], out[1]
        cleanup = out[2] if len(out) > 2 else None
        # Idempotent kept write: one batch=N directory per micro-batch,
        # OVERWRITTEN (not appended) on replay — re-running the same
        # batch against the same store version produces the same rows,
        # so the pre-crash partial write is simply replaced.  Replays of
        # COMMITTED batches never reach here (the manifest guard above),
        # which closes the duplicate-on-replay window the append form
        # had.  Readers see an extra `batch` partition column — the
        # micro-batch provenance of each kept row.
        fresh.write.mode("overwrite").parquet(
            f"{kept_path}/batch={ckpt_tag}-{batch_id}"
        )
        new_version = version + 1
        new_dir = f"v-{new_version:010d}"
        created = {new_dir}
        if append_only and store is not None:
            # Delta segment: O(batch) write; the manifest carries the
            # prior version's dirs->files entries verbatim plus the
            # new segment.
            updated.write.mode("overwrite").parquet(
                f"{store_path}/{new_dir}"
            )
            parts = dict(live_parts)
            parts[new_dir] = _data_files(fs, hpath(dst, new_dir))
            if compact_segments is not None:
                # Size-tiered fold (r16 verdict task 3): merge only
                # when >= compact_segments SIMILAR-SIZED segments
                # accumulate (power-of-two byte tiers), cascading
                # upward LSM-style — per-byte write amplification is
                # O(log segments) instead of the every-K full fold's
                # periodic O(store), while reader fan-in stays
                # bounded at ~fan_in x #tiers.
                new_version, parts = _tiered_fold(
                    spark, fs, hpath, dst, store_path, _data_files,
                    parts, new_version, compact_segments, created,
                    fold_merge=fold_merge,
                )
        else:
            updated.write.mode("overwrite").parquet(f"{store_path}/{new_dir}")
            parts = {new_dir: _data_files(fs, hpath(dst, new_dir))}
        # The atomic flip: readers move to the new store version here —
        # and, carrying batch_id, it is also the kept output's COMMIT
        # record (kept rows land before the flip; the flip makes the
        # batch immune to replay).  A fold batch allocates several
        # version numbers (delta + each merge output); the manifest
        # version is the LAST allocated, so versions can jump by more
        # than one per batch.
        _write_manifest(
            spark, store_path, new_version, parts,
            extra={"batch_id": batch_id, "ckpt": checkpoint},
        )
        # GC version dirs the NEW manifest no longer references —
        # superseded segments folded away this batch, plus any
        # intermediate fold outputs a cascade consumed — and all
        # manifests except the new one and its PREDECESSOR (the
        # predecessor stays so a reader that resolved it just before
        # the flip still parses it — the documented retryable-read
        # caveat when its files are gone; with version jumps that is
        # manifest `version`, not new_version-1).
        for name in (live_dirs | created) - set(parts):
            fs.delete(hpath(dst, name), True)
        for status in fs.listStatus(dst):
            m = re.fullmatch(r"_manifest-v(\d+)\.json", status.getPath().getName())
            if m and int(m.group(1)) not in (new_version, version):
                fs.delete(status.getPath(), False)
        if cleanup is not None:
            cleanup()

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # The sink runs at least two actions on the batch (fresh-rows
        # append + store-version write), and each action would re-run
        # the batch's ENTIRE upstream chain — for a curation stream
        # that means re-pricing every scrub/filter/probe stage per
        # action (measured: 4x input rows per micro-batch on
        # stream_corpus_pipeline).  Persist once, compute the actions
        # off the cached blocks, release before the next batch.
        batch_df.persist()
        try:
            _apply_inner(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return foreach_batch_sink(df, apply, checkpoint)


def stream_image_dedup_sink(
    df: DataFrame,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    max_hamming: int = 3,
    blocks: int = 4,
    combo: int = 1,
    id_col: str = "id",
    compact_segments: int = 8,
):
    """Continuously-ingesting IMAGE near-dup dedup: each micro-batch of
    raw-RGB rows ``(id, content, width, height)`` hashes to dHash codes
    (``multimodal.image_dhash``), dedups against the persisted
    ``(id, dhash)`` code store (``dedup.incremental_hamming_dedup`` —
    in-batch connected components, then a Manku band join), survivors'
    codes append to ``kept_path`` and extend the store — the multimodal
    member of the streaming dedup family (exact fingerprints, MinHash
    bands and semantic cells have the same shape).  Store state is 8
    bytes per surviving image; the swap durability and crash self-heal
    are the shared ``_incremental_store_sink`` contract."""
    from metalpipe_spark.operators.dedup import (
        _truncate_lineage,
        incremental_hamming_dedup,
    )
    from metalpipe_spark.operators.multimodal import image_dhash

    def step(batch_df: DataFrame, store: DataFrame | None):
        # Materialize the batch's codes ONCE: the dedup consumes them in
        # several jobs (in-batch CC, the kept append, the store join and
        # the store rewrite), and without the checkpoint each would
        # re-run the Python dHash kernel over the raw images; the
        # cleanup drops the blocks after the swap so micro-batches don't
        # accumulate pinned state (the semantic sink's batch-checkpoint
        # contract, realized through the skeleton's cleanup hook).
        codes, rdd = _truncate_lineage(
            image_dhash(batch_df, id_col=id_col), reliable=False
        )
        codes.count()
        # return_delta: the (id, dhash) store is strictly append-only —
        # the sink publishes only the batch's surviving codes as a
        # delta segment (O(batch) per trigger; the store is one row per
        # surviving image ever seen).
        fresh, updated = incremental_hamming_dedup(
            codes, store, code_col="dhash", id_col=id_col,
            bits=64, max_hamming=max_hamming, blocks=blocks, combo=combo,
            return_delta=True,
        )
        return fresh, updated, lambda: rdd.unpersist(False)

    return _incremental_store_sink(
        df, kept_path, store_path, checkpoint, step,
        append_only=True, compact_segments=compact_segments,
    )


def stream_hll_registers(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
    hash: str = "md5",
):
    """Streaming cardinality monitor: maintain per-window HLL REGISTER
    tables over a stream — ``(window, __b, __m)`` — with ONE watermarked
    max-aggregation (Structured Streaming's single-stateful-agg sweet
    spot; the estimate's second aggregate runs in BATCH over the stored
    registers via ``hll_estimate_from_registers``).  State per window is
    capped at ``2^p`` rows regardless of stream volume — the reason a
    distinct-count monitor over an unbounded stream needs a sketch and
    not ``approx_count_distinct`` (whose estimate no other engine could
    reproduce) or exact distinct (whose state is unbounded).

    Register tables from any number of micro-batches, days, or shards
    re-merge by register max (``hll_merge_registers``), so the persisted
    output composes into coarser windows for free."""
    from metalpipe_spark.operators.sketches import hll_registers

    windowed = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), window_duration).alias("window"),
        F.col(value_col),
    )
    return hll_registers(windowed, value_col, group_cols=["window"], p=p, hash=hash)


def stream_histogram_registers(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    bins: int = 128,
    scale: str = "linear",
):
    """Streaming distribution monitor — the histogram member of the
    streaming-sketch pair (:func:`stream_hll_registers`): per-window
    bin-count REGISTER tables ``(window, __b, __n, __geo)`` from ONE
    watermarked count-aggregation; state per window is capped at
    ``bins + 2`` rows regardless of stream volume.  Quantile estimates
    run in BATCH over the stored registers
    (``histogram_quantiles``), and per-window tables roll up into
    coarser windows via ``histogram_merge`` (count-sum) — geometry
    mismatches refuse mechanically, same as mixed HLL hash fns."""
    from metalpipe_spark.operators.sketches import histogram_registers

    windowed = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), window_duration).alias("window"),
        F.col(value_col),
    )
    return histogram_registers(
        windowed, value_col, lo, hi, bins=bins, group_cols=["window"], scale=scale
    )


def stream_corpus_pipeline(
    stream: DataFrame,
    benchmark: DataFrame,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 3,
    rebalance_partitions: int | None = None,
    hash: str = "md5",
    compact_segments: int = 8,
):
    """The CURATION pipeline as one continuously-ingesting stream —
    the streaming twin of q_corpus_pipeline's scrub → quality → dedup
    stages plus decontamination, composed from pieces that each carry
    their own correctness row:

    1. PII scrub (``redact_pii``) — stateless codegen regex chain, the
       one stage that runs as a STREAM transformation;
    2. Gopher quality filter (``quality_filter(keep_columns=True)``) —
       runs inside the foreachBatch step, ABOVE the sink's batch cache:
       as a stream-side ``.where(keep)`` the predicate (carrying every
       repetition-signal HOF tree, duplicated by pushdown substitution)
       pushed below the rebalance into the source's few-task scan —
       measured 10× the stage cost at 10× corpus; the cache is the
       pushdown barrier that keeps the signals evaluated once, 32-way;
    3. benchmark decontamination — the Bloom mask is built ONCE at
       definition time from the batch-side benchmark and pre-collected;
       the per-batch probe uses the codegen explode + map-side-combined
       count kernel (``bloom_hit_report``, the q_bloom_decontaminate
       path) instead of the interpreted higher-order form
       (``bloom_decontaminate_filter`` remains the tool for true stream
       transformations where aggregation is off-limits);
    4. incremental EXACT dedup against a persisted fingerprint store
       (``incremental_exact_dedup`` inside the shared manifest-atomic,
       exactly-once ``_incremental_store_sink`` skeleton): survivors
       land under ``kept_path``, the store grows by their fingerprints,
       readers see whole versions only, every crash point self-heals
       and committed batches replay as no-ops.

    No watermark, no streaming state anywhere; the only per-batch
    shuffles are the hit count over MATCHING shingles and the dedup
    agg; ALL durable state is the fingerprint store — one md5 row per
    unique surviving doc, exactly what the batch pipeline would
    persist.  Drain with an availableNow trigger for backfills; the
    running stream is the same plan."""
    from metalpipe_spark.operators.dedup import word_shingles
    from metalpipe_spark.operators.sketches import bloom_build, bloom_hit_report
    from metalpipe_spark.operators.text import quality_filter, redact_pii

    if rebalance_partitions:
        # Micro-batch parallelism is inherited from the SOURCE's file
        # layout: a backfill over a few large files runs the whole
        # regex/shingle chain on a few tasks regardless of cores.  An
        # explicit repartition of the raw rows (stateless) unlocks the
        # scan-stage CPU — the streaming face of load_table's
        # rebalance.  Leave None when the source's file count already
        # matches the cluster (the usual 100 TB case: thousands of
        # arriving shards); the repartition is a full batch shuffle.
        stream = stream.repartition(rebalance_partitions)
    scrubbed = stream.withColumn(text_col, redact_pii(text_col))
    b_sh = benchmark.select(F.explode(word_shingles(text_col, 3)).alias("shingle"))
    # hash= is the production knob (bloom probes measured 1.93x on
    # xxhash64 at sf1); the mask row carries the fn, so the per-batch
    # probes re-hash consistently by construction.
    mask_row = bloom_build(b_sh, "shingle", hash=hash).first()

    def step(batch_df: DataFrame, store):
        from metalpipe_spark.operators.dedup import incremental_exact_dedup

        kept = (
            quality_filter(
                batch_df, text_col=text_col, id_col=id_col, keep_columns=True
            )
            .where(F.col("keep"))
            .select(*batch_df.columns)
        )
        flagged = bloom_hit_report(
            kept, mask_row, text_col=text_col, id_col=id_col,
            min_hits=min_hits,
        )
        # The quality/probe work lives BELOW the sink's batch cache, so
        # without its own persist the kept append and the store write
        # would each re-run it (the same double-pricing the sink's
        # outer persist exists to prevent).
        clean = kept.join(flagged.select(id_col), id_col, "left_anti").persist()
        # return_delta: the fingerprint store is strictly append-only
        # (fresh rows are anti-joined against it), so the sink writes
        # only the batch's new md5 rows per trigger — the delta is
        # already distinct (one row per in-batch canonical fingerprint).
        fresh, delta = incremental_exact_dedup(
            clean, store, text_col=text_col, id_col=id_col,
            return_delta=True,
        )
        return fresh, delta, lambda: clean.unpersist()

    return _incremental_store_sink(
        scrubbed, kept_path, store_path, checkpoint, step,
        append_only=True, compact_segments=compact_segments,
    )


def stream_dsir_sink(
    df: DataFrame,
    target: DataFrame,
    kept_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    smoothing: float = 1.0,
    bucket_hash: str = "md5",
    exact: bool = False,
    rebalance_partitions: int | None = None,
):
    """Continuously-ingesting DSIR: each micro-batch folds its hashed
    n-gram bucket counts into the persisted raw-corpus distribution,
    then scores itself against the UPDATED distribution
    (``curation.dsir_incremental_weights`` — fold-before-score, so a
    one-batch stream equals the batch computation); per-doc
    ``(id, n_grams, log_weight)`` rows append to ``kept_path`` and the
    store advances to the new counts.  The importance stream feeds a
    downstream threshold/top-k selection exactly like the batch
    weights table.

    The target-side distribution is computed ONCE at definition time
    (eval/seed sets are batch data, not a stream) and lineage-truncated
    so per-batch re-use never re-scans the target.  Durable state is
    the bucket-count table — AT MOST ``buckets`` mergeable rows of
    fixed size regardless of how much corpus has streamed past — and
    the swap durability / crash self-heal / exactly-once replay are the
    shared ``_incremental_store_sink`` contract (the same store family
    as the exact/semantic/image dedup sinks)."""
    from metalpipe_spark.operators.curation import (
        dsir_incremental_weights,
        dsir_target_counts,
    )
    from metalpipe_spark.operators.dedup import _truncate_lineage

    if rebalance_partitions:
        # Micro-batch parallelism is inherited from the source's file
        # layout (the stream_corpus_pipeline rationale): one large file
        # per batch would run the whole explode+hash chain on one task.
        df = df.repartition(rebalance_partitions)
    tc, tc_rdd = _truncate_lineage(
        dsir_target_counts(
            target, text_col=text_col, buckets=buckets, bucket_hash=bucket_hash
        ),
        reliable=False,
    )
    tc.count()  # materialize once; every micro-batch broadcasts from here

    def step(batch_df: DataFrame, store: DataFrame | None):
        # with_cleanup routes the per-batch (id, bucket, count)
        # localCheckpoint through _truncate_lineage and hands back the
        # block-release callable; the skeleton runs it after the
        # manifest swap so micro-batches don't accumulate pinned blocks
        # (the image-dedup sink's contract).
        weights, updated, cleanup = dsir_incremental_weights(
            batch_df,
            store,
            tc,
            text_col=text_col,
            id_col=id_col,
            buckets=buckets,
            smoothing=smoothing,
            bucket_hash=bucket_hash,
            exact=exact,
            with_cleanup=True,
        )
        return weights, updated, cleanup

    return _incremental_store_sink(df, kept_path, store_path, checkpoint, step)
