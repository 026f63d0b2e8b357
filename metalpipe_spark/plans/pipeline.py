"""Pipeline-config compiler: YAML ``nodes``/``paths`` → DataFrame graph
(SURVEY.md §3.1).

The reference CLI builds a thread-per-node object graph from YAML
(/root/reference/metalpipe/bin/metalpipe:85-107) and pumps dict messages
through bounded queues.  Here the same config compiles to a DAG of
DataFrame transformations: each node class is a planning rule that maps
(upstream DataFrames, options) to a new DataFrame, and execution is
whatever action the caller runs on the terminal DataFrames — Catalyst
then owns optimization, scheduling, and distribution.

Config shape (reference parity, source/configuration.rst:6-44):

    pipeline_name: my_pipeline
    nodes:
      read_customers:
        class: ParquetReader
        options: {path: /data/customer.parquet}
      only_building:
        class: Filter
        options: {test: value_is_not_none, test_keypath: c_name}
    paths:
      - [read_customers, only_building]

A node's ``options`` are the keyword arguments of the operator its
class wraps (the reference passes them straight to the node class,
bin/metalpipe:85-107): same names, same defaults, and a key the
operator does not take raises ``ValueError`` naming the node and the
key.  ``OPERATOR_NODES`` lists the classes that are exactly one
operator; every other class documents where its YAML differs.  The
classes that wrap no operator (ParquetReader, ParquetWriter,
SQLExecute, SimpleTransforms, GetEnvironmentVariables and the
pass-through sinks) read only the keys they document.  The
universal options (``input_mapping``, ``post_process_*``,
``break_test``, ``max_messages_received``, ``throttle``) apply to every
node and are taken off before the node's own options bind.

Fan-out = one node feeding several paths (the DataFrame is reused; Spark
may recompute or reuse the scan — caching is an explicit option).
Fan-in = several nodes feeding one (the reference interleaves messages,
node.py:431 → ``unionByName``), except join nodes which consume named
upstreams.

Template phase: jinja2 with the reference's evaluator-function contract
(bin/metalpipe:46-74) — any undeclared template variable is resolved by
importing it as a dotted path and calling it with no args; plain names
fall back to environment variables.  Secrets phase: token strings from
secrets YAML files are replaced throughout the config tree
(bin/metalpipe:23-37,77-83).
"""

from __future__ import annotations

import inspect
import os
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metalpipe_spark.operators.filtering import random_sample, systematic_sample
from metalpipe_spark.operators.joins import enrich_join
from metalpipe_spark.operators.transform import simple_transforms
from metalpipe_spark.sources.readers import csv_reader
from metalpipe_spark.udf_registry import load_function, wrap_udf

# ---------------------------------------------------------------------------
# Node-class registry


@dataclass
class NodeSpec:
    name: str
    cls: str
    options: dict[str, Any] = field(default_factory=dict)


# builder(spark, upstreams: list[DataFrame], options) -> DataFrame | None
NodeBuilder = Callable[[SparkSession, list[DataFrame], dict], DataFrame | None]

NODE_CLASSES: dict[str, NodeBuilder] = {}


def node_class(name: str):
    def deco(fn: NodeBuilder):
        NODE_CLASSES[name] = fn
        return fn

    return deco


def _one(upstreams: list[DataFrame], cls: str) -> DataFrame:
    if len(upstreams) == 1:
        return upstreams[0]
    if not upstreams:
        raise ValueError(f"{cls} requires an upstream node")
    # Fan-in: interleaved message streams (node.py:431) == union.
    df = upstreams[0]
    for other in upstreams[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    return df


def _bind(fn: Callable, cls: str, spark, upstreams, opts: dict, *inputs):
    """Run operator ``fn`` for node class ``cls`` with the node's options
    as its keyword arguments — the reference passes a node's YAML
    ``options`` straight to the node class (bin/metalpipe:85-107), so an
    option's name and default live once, in the operator's signature.

    ``inputs`` fill the operator's leading parameters; without them the
    first parameter gets the session when it is named ``spark`` (a
    source) and the node's upstream otherwise (a transform).  An option
    that is not one of the remaining parameters — a typo, a private
    ``_`` parameter, a missing required one — raises instead of being
    ignored."""
    sig = inspect.signature(fn)
    if not inputs:
        first = next(iter(sig.parameters))
        inputs = (spark if first == "spark" else _one(upstreams, cls),)
    private = [k for k in opts if k.startswith("_")]
    if private:
        raise ValueError(f"{cls}: private parameter(s) {private} are not options")
    try:
        sig.bind(*inputs, **opts)
    except TypeError as exc:
        raise ValueError(
            f"{cls}: {exc} (its options are {fn.__name__}'s keyword arguments)"
        ) from None
    return fn(*inputs, **opts)


def _default(fn: Callable, opts: Mapping, name: str) -> Any:
    """Option ``name`` as ``fn`` sees it: the node's value, else the
    default in ``fn``'s signature."""
    return opts.get(name, inspect.signature(fn).parameters[name].default)


def _rename(opts: dict, **names: str) -> dict:
    """Map YAML option spellings onto operator parameter names
    (``yaml_key="param"``) before :func:`_bind`."""
    for key, param in names.items():
        if key in opts:
            opts[param] = opts.pop(key)
    return opts


def _operator_node(cls: str, path: str) -> NodeBuilder:
    def build(spark, upstreams, opts):
        # Resolved per build, like the reference's import-by-name class
        # lookup: importing this module loads no operator module, and a
        # node runs whatever the operator's module currently exports.
        return _bind(load_function(f"metalpipe_spark.{path}"), cls, spark, upstreams, opts)

    return build


# Node classes that ARE one operator: options bind to its signature.
OPERATOR_NODES: dict[str, str] = {
    # sources
    "CSVReader": "sources.readers.csv_reader",
    "LocalFileReader": "sources.readers.local_file_reader",
    "JSONLReader": "sources.readers.jsonl_reader",
    "ArpaReader": "sources.readers.load_arpa",
    "WETReader": "sources.warc.read_wet",
    "WARCReader": "sources.warc.read_warc",
    "WETStream": "sources.warc.stream_wet",
    "ConstantEmitter": "sources.emitters.constant_emitter",
    "SequenceEmitter": "sources.emitters.sequence_emitter",
    "CounterOfThings": "sources.emitters.counter_of_things",
    # transforms
    "Filter": "operators.filtering.filter_node",
    "Remapper": "operators.transform.remapper",
    "InsertData": "operators.transform.insert_data",
    "SubstituteRegex": "operators.transform.substitute_regex",
    "Serializer": "operators.transform.serializer",
    "BatchMessages": "operators.aggregate.batch_messages",
    "AggregateValues": "operators.aggregate.aggregate_values_node",
    "RowStatCollector": "operators.aggregate.row_stat_collector",
    "PivotPinned": "operators.aggregate.pivot_pinned",
    # training-data curation (beyond the reference; COVERAGE.md)
    "TrainNgramLM": "operators.text.train_ngram_lm",
    "PruneLM": "operators.text.prune_lm",
    "ScrubPII": "operators.text.scrub_pii",
    "ChunkDocuments": "operators.text.chunk_documents",
    "NormalizedDedup": "operators.text.normalized_dedup",
    "ExactSubstrDedup": "operators.dedup.exact_substr_dedup",
    "ParagraphDedup": "operators.dedup.chunk_level_dedup",
    "BoilerplateRemoval": "operators.dedup.boilerplate_chunk_removal",
    "EmbedDocuments": "operators.inference.embed_documents",
    "StratifiedSample": "operators.curation.stratified_sample",
    "TopKPerGroup": "operators.curation.topk_per_group",
    "PackShards": "operators.curation.pack_shards",
    "TokenBudgetSample": "operators.curation.token_budget_sample",
    "CurriculumOrder": "operators.curation.curriculum_order",
    "TemperatureEpochs": "operators.curation.temperature_resample_epochs",
    "DomainMixSample": "operators.curation.domain_mix_sample",
    "SplitCorpus": "operators.curation.split_corpus",
    "GlobalShuffle": "operators.curation.global_shuffle",
    "HostRank": "operators.web.host_rank",
}
NODE_CLASSES.update({cls: _operator_node(cls, path) for cls, path in OPERATOR_NODES.items()})

# The adapters below do more than call one operator, or their YAML
# deliberately differs from it; each docstring states how.


# -- sources ----------------------------------------------------------------


@node_class("ParquetReader")
def _parquet_reader(spark, upstreams, opts):
    return spark.read.parquet(opts["path"])


@node_class("CSVToDictionaryList")
def _csv_to_dictionary_list(spark, upstreams, opts):
    """node.py:1080-1088 — parse a CSV and emit the ENTIRE row list as ONE
    message: a single row holding array<struct> under ``output_key``
    (default ``rows``).  ``infer_schema`` defaults OFF here (csv_reader
    defaults on) to match ``csv.DictReader``'s all-strings dicts.  The
    one-message shape is inherently small-data (the reference buffers
    the whole list in one dict), so the collect_list to a single row is
    by-construction bounded — large CSVs belong on the per-row
    ``CSVReader`` path."""
    out_key = opts.pop("output_key", "rows")
    opts.setdefault("infer_schema", False)
    df = _bind(csv_reader, "CSVToDictionaryList", spark, upstreams, opts)
    return df.agg(F.collect_list(F.struct(*df.columns)).alias(out_key))


@node_class("HtmlExtract")
def _html_extract(spark, upstreams, opts):
    """Visible text of the HTML column ``column`` (default ``payload``)
    into ``output_key`` (default ``text``) (operators/web.py:
    html_extract_text) — binary payloads (WARCReader's) cast to UTF-8
    first.  Pure regexp codegen; no UDF."""
    from metalpipe_spark.operators.web import html_extract_text

    df = _one(upstreams, "HtmlExtract")
    col = opts.pop("column", "payload")
    out = opts.pop("output_key", "text")
    src = F.col(col)
    if dict(df.dtypes).get(col) == "binary":
        src = src.cast("string")
    return df.withColumn(out, _bind(html_extract_text, "HtmlExtract", spark, upstreams, opts, src))


@node_class("NgramLogprob")
def _ngram_logprob_node(spark, upstreams, opts):
    """Mean n-gram log-probability per document (the CCNet perplexity
    cut).  One upstream = corpus scored against an inline ``lm`` dict;
    two upstreams = [corpus, lm table] — wire an ArpaReader here.
    ``order`` slices a multi-order table down to one section for the
    flat scorer.  ``backoff: true`` (two-upstream form only) scores
    through ``ngram_logprob_backoff``: the lm table keeps its ``order``
    and backoff columns and unseen grams chain down through real
    lower-order evidence — the KenLM/CCNet behavior for a multi-section
    ARPA or a ``train_backoff_lm`` table."""
    from metalpipe_spark.operators.text import (
        ngram_logprob,
        ngram_logprob_backoff,
    )

    backoff = bool(opts.pop("backoff", False))
    order = opts.pop("order", None)
    inline_lm = opts.pop("lm", None)
    if backoff and order is not None:
        # The backoff scorer consumes every order by design, so
        # combining them would silently run different semantics than
        # the config requests (r16 advice).
        raise ValueError(
            "NgramLogprob: 'order' is flat-path-only (it slices a "
            "multi-order table for ngram_logprob); backoff: true "
            "scores ALL orders — drop one of the two options"
        )
    if len(upstreams) == 2:
        corpus, lm = upstreams
        if backoff:
            return _bind(ngram_logprob_backoff, "NgramLogprob", spark, upstreams, opts, corpus, lm)
        if order is not None:
            lm = lm.where(F.col("order") == int(order))
        lm = lm.select("ngram", "logprob")
    elif len(upstreams) == 1 and inline_lm is not None:
        if backoff:
            raise ValueError(
                "NgramLogprob: backoff scoring needs a multi-order lm "
                "TABLE upstream (ArpaReader / train_backoff_lm), not an "
                "inline lm dict"
            )
        corpus, lm = upstreams[0], dict(inline_lm)
    else:
        raise ValueError(
            "NgramLogprob requires [corpus, lm] upstreams or an lm option"
        )
    return _bind(ngram_logprob, "NgramLogprob", spark, upstreams, opts, corpus, lm)


@node_class("TrainBackoffLM")
def _train_backoff_lm_node(spark, upstreams, opts):
    """Multi-order backoff LM trainer
    (``operators.text.train_backoff_lm``) as a config node — the YAML
    face of the CCNet train half.  ``smoothing: kn`` trains
    interpolated Kneser-Ney; ``discount`` is a float or ``ney``;
    ``min_counts`` / ``entropy_threshold`` apply
    ``operators.text.prune_lm`` to the trained table in the same node
    (the common train-then-prune deployment), at the TRAINED order
    ``n`` (3 unless set) rather than prune_lm's own ``n=None``.  So
    ``docs -> TrainBackoffLM -> NgramLogprob(backoff)`` or
    ``-> WriteArpa`` is a complete curation loop in config."""
    from metalpipe_spark.operators.text import prune_lm, train_backoff_lm

    prune = {k: opts.pop(k) for k in ("min_counts", "entropy_threshold") if k in opts}
    lm = _bind(train_backoff_lm, "TrainBackoffLM", spark, upstreams, opts)
    if any(v is not None for v in prune.values()):
        lm = prune_lm(lm, **prune, n=_default(train_backoff_lm, opts, "n"))
    return lm


@node_class("WriteArpa")
def _write_arpa_node(spark, upstreams, opts):
    """Export the upstream LM table as a KenLM-interchange ``.arpa``
    artifact (``operators.text.write_arpa``) — the ship step between
    the train job and the scoring job.  The write happens AT COMPILE
    (the Blocker precedent: sinks act eagerly so a config run leaves
    the artifact on disk); the node forwards the LM table unchanged so
    a graph can export AND keep scoring with the same model."""
    from metalpipe_spark.operators.text import write_arpa

    lm = _one(upstreams, "WriteArpa")
    _bind(write_arpa, "WriteArpa", spark, upstreams, opts, lm)
    return lm


@node_class("GetEnvironmentVariables")
def _env_vars(spark, upstreams, opts):
    """node.py:1145-1191 — emit one row of environment values (driver-side
    by nature; becomes a literal one-row DataFrame).  ``mappings`` renames
    variables to output keys; unset variables yield NULL (explicit string
    schema so an all-unset row still has stable types)."""
    names = opts.get("environment_variables", [])
    mappings = opts.get("mappings", {})
    row = {mappings.get(v, v): os.environ.get(v) for v in names}
    schema = T.StructType([T.StructField(k, T.StringType()) for k in row])
    return spark.createDataFrame([tuple(row.values())], schema)


# -- transforms -------------------------------------------------------------


@node_class("SimpleTransforms")
def _simple_transforms(spark, upstreams, opts):
    """node.py:1194-1254 — dotted-path functions applied at tail-matching
    keypaths.  Functions load via the UDF registry; declared
    ``return_type`` keeps the wrapper typed."""
    # Reference option name first (node.py:1199 `transform_mapping`),
    # `transforms` as this engine's alias.  (An earlier revision read
    # the list from "missing_keypaths" — a confusion with the
    # reference's missing_keypath_action TOLERANCE flag; that key never
    # held transform specs in any config shape.)
    raw_specs = opts.get("transform_mapping", opts.get("transforms"))
    if raw_specs is None:
        raise ValueError(
            "SimpleTransforms needs 'transform_mapping' (reference name) "
            "or 'transforms'"
        )
    specs = []
    for raw in raw_specs:
        spec = dict(raw)
        if "target_function" in spec and isinstance(spec["target_function"], str):
            # the reference writes dotted paths with '__' separators
            # (node.py:1216 splits on '__'); accept both spellings.
            path = spec["target_function"]
            if "." not in path:
                path = path.replace("__", ".")
            fn = wrap_udf(path, spec.get("return_type", "string"))
            spec["target_function"] = lambda c, _f=fn: _f(c)
        specs.append(spec)
    return simple_transforms(_one(upstreams, "SimpleTransforms"), specs)


@node_class("RandomSample")
def _sample(spark, upstreams, opts):
    """Bernoulli ``random_sample``, or ``systematic_sample`` when the
    options carry a ``modulus``."""
    fn = systematic_sample if "modulus" in opts else random_sample
    return _bind(fn, "RandomSample", spark, upstreams, opts)


@node_class("Join")
def _join(spark, upstreams, opts):
    """Batch equi-join of two upstream branches (completes the intent of
    the reference's StreamingJoin stub, node.py:1528-1552).  YAML spells
    ``broadcast_dim`` as ``broadcast`` and defaults it OFF (enrich_join
    defaults on)."""
    if len(upstreams) != 2:
        raise ValueError("Join requires exactly two upstream nodes")
    opts.setdefault("broadcast_dim", opts.pop("broadcast", False))
    return _bind(enrich_join, "Join", spark, upstreams, opts, *upstreams)


@node_class("CorpusReport")
def _corpus_report_node(spark, upstreams, opts):
    """One-row dataset-card summary of the upstream corpus
    (operators/text.py:corpus_report).  YAML spells the ``*_col``
    parameters ``text_column`` / ``id_column`` / ``lang_column`` /
    ``source_column``."""
    from metalpipe_spark.operators.text import corpus_report

    _rename(opts, text_column="text_col", id_column="id_col",
            lang_column="lang_col", source_column="source_col")
    return _bind(corpus_report, "CorpusReport", spark, upstreams, opts)


@node_class("BM25TopK")
def _bm25_topk_node(spark, upstreams, opts):
    """BM25 keyword retrieval over the upstream corpus (operators/
    text.py:bm25_topk).  YAML spells ``query_terms`` / ``text_col`` /
    ``id_col`` as ``terms`` / ``text_column`` / ``id_column``."""
    from metalpipe_spark.operators.text import bm25_topk

    _rename(opts, terms="query_terms", text_column="text_col", id_column="id_col")
    return _bind(bm25_topk, "BM25TopK", spark, upstreams, opts)


@node_class("BM25Batch")
def _bm25_batch_node(spark, upstreams, opts):
    """Batched BM25 (operators/retrieval.py): upstream order is
    (corpus, queries); queries carry (query_id, terms array<string>).
    YAML spells ``text_col`` / ``id_col`` as ``text_column`` /
    ``id_column``."""
    from metalpipe_spark.operators.retrieval import bm25_topk_batch

    if len(upstreams) != 2:
        raise ValueError("BM25Batch requires exactly (corpus, queries) upstreams")
    _rename(opts, text_column="text_col", id_column="id_col")
    return _bind(bm25_topk_batch, "BM25Batch", spark, upstreams, opts, *upstreams)


@node_class("RRFFuse")
def _rrf_fuse_node(spark, upstreams, opts):
    """Reciprocal-rank fusion of two or more upstream rank lists
    (operators/retrieval.py:rrf_fuse).  ``sources`` names the upstreams
    in edge order (the fold order is by sorted name — fix the names to
    fix the arithmetic); defaults to src0, src1, …  YAML spells
    ``id_col`` as ``id_column``."""
    from metalpipe_spark.operators.retrieval import rrf_fuse

    if len(upstreams) < 2:
        raise ValueError("RRFFuse requires at least two upstream rank lists")
    names = opts.pop("sources", None) or [f"src{i}" for i in range(len(upstreams))]
    if len(names) != len(upstreams):
        raise ValueError(
            f"RRFFuse: {len(upstreams)} upstream(s) but {len(names)} source name(s)"
        )
    _rename(opts, id_column="id_col")
    return _bind(rrf_fuse, "RRFFuse", spark, upstreams, opts, dict(zip(names, upstreams)))


@node_class("SQLExecute")
def _sql_execute(spark, upstreams, opts):
    """CivisSQLExecute / CivisToCSV (civis_nodes.py:374-482) — "run SQL,
    emit the result rows" — engine-native: upstream DataFrames register as
    temp views named by ``views`` (in upstream order), then ``sql`` runs
    through Catalyst.  Against a warehouse use the JDBC readers; this node
    is the in-engine SQL entry path (full pushdown/pruning, no collect)."""
    names = opts.get("views", [])
    if len(names) != len(upstreams):
        raise ValueError(
            f"SQLExecute: {len(upstreams)} upstream(s) but {len(names)} view name(s)"
        )
    for name, df in zip(names, upstreams):
        df.createOrReplaceTempView(name)
    return spark.sql(opts["sql"])


@node_class("FunctionOfMessage")
def _fn_of_message(spark, upstreams, opts):
    """node.py:996-1013 — named function applied per record; compiled to a
    typed UDF column (``wrap_udf``'s ``return_type`` / ``mode``) rather
    than a whole-row Python pass.  ``function`` is the dotted path,
    ``key`` the input column (default: every column), ``output_key``
    the result column (default ``result``)."""
    df = _one(upstreams, "FunctionOfMessage")
    cols = [opts.pop("key")] if "key" in opts else df.columns
    out = opts.pop("output_key", "result")
    target = opts.pop("function")
    fn = _bind(wrap_udf, "FunctionOfMessage", spark, upstreams, opts, target)
    return df.withColumn(out, fn(*cols))


# -- streaming sources ------------------------------------------------------


@node_class("LocalDirectoryWatchdog")
def _watchdog(spark, upstreams, opts):
    """node.py:1500-1525 — directory poller as the Structured Streaming
    file source (checkpointed discovery instead of mtime polling).  YAML
    spells ``fmt`` as ``format``."""
    from metalpipe_spark.streaming.streams import file_watchdog

    _rename(opts, format="fmt")
    return _bind(file_watchdog, "LocalDirectoryWatchdog", spark, upstreams, opts)


@node_class("TimeWindowAccumulator")
def _time_window(spark, upstreams, opts):
    """node.py:1453-1460 (stub in the reference) — tumbling event-time
    window.  YAML spells ``window_size`` as ``window`` and gives the
    aggregates as ``aggregates: [{fn, column, alias}]`` (default: one
    row count ``n``)."""
    from metalpipe_spark.streaming.streams import tumbling_window

    aggs = []
    for spec in opts.pop("aggregates", [{"fn": "count", "column": "*", "alias": "n"}]):
        fn = getattr(F, spec["fn"])
        col = F.lit(1) if spec.get("column", "*") == "*" else F.col(spec["column"])
        aggs.append(fn(col).alias(spec.get("alias", spec["fn"])))
    opts["aggs"] = aggs
    _rename(opts, window="window_size")
    return _bind(tumbling_window, "TimeWindowAccumulator", spark, upstreams, opts)


@node_class("StreamingJoin")
def _streaming_join(spark, upstreams, opts):
    """node.py:1528-1552 — the reference's stub completed: watermarked
    stream-stream equi-join within a time window."""
    from metalpipe_spark.streaming.streams import streaming_join

    if len(upstreams) != 2:
        raise ValueError("StreamingJoin requires exactly two upstream nodes")
    return _bind(streaming_join, "StreamingJoin", spark, upstreams, opts, *upstreams)


# -- sinks ------------------------------------------------------------------


@node_class("PrinterOfThings")
def _printer(spark, upstreams, opts):
    return _one(upstreams, "PrinterOfThings")  # action happens at run()


@node_class("BlackHole")
def _blackhole(spark, upstreams, opts):
    return _one(upstreams, "BlackHole")


@node_class("Blocker")
def _blocker(spark, upstreams, opts):
    """node.py:1720-1728 — swallows every message and forwards only the
    termination signal once its input completes.  Batch analog: force the
    upstream's computation HERE (the barrier — an eager count at compile,
    mirroring the reference's do-nothing drain), then emit a zero-row
    frame with the upstream schema so downstream nodes compile against
    real types but receive no data rows."""
    df = _one(upstreams, "Blocker")
    if df.isStreaming:
        raise ValueError(
            "Blocker is a batch barrier; streaming paths end via query lifecycle"
        )
    df.count()
    return df.limit(0)


@node_class("TrainingShardWriter")
def _training_shard_writer_node(spark, upstreams, opts):
    """Write ``write_training_shards`` output at compile and forward the
    upstream unchanged."""
    from metalpipe_spark.sinks.writers import write_training_shards

    df = _one(upstreams, "TrainingShardWriter")
    _bind(write_training_shards, "TrainingShardWriter", spark, upstreams, opts, df)
    return df


@node_class("ParquetWriter")
def _parquet_writer(spark, upstreams, opts):
    df = _one(upstreams, "ParquetWriter")
    writer = df.write.mode(opts.get("mode", "overwrite"))
    if "partition_by" in opts:
        writer = writer.partitionBy(*opts["partition_by"])
    writer.parquet(opts["path"])
    return df


@node_class("WETWriter")
def _wet_writer(spark, upstreams, opts):
    """Export (url, text) rows as spec-framed .wet.gz shards
    (sources/warc.py:write_wet) — the interchange format every other
    Common Crawl consumer reads — and forward the upstream unchanged."""
    from metalpipe_spark.sources.warc import write_wet

    df = _one(upstreams, "WETWriter")
    _bind(write_wet, "WETWriter", spark, upstreams, opts, df)
    return df


# -- training-data curation nodes (beyond the reference; COVERAGE.md) -------


@node_class("DetectLanguage")
def _detect_language(spark, upstreams, opts):
    """Heuristic language tag of ``text_col`` (default ``text``) into
    ``output_col`` (default ``lang_detected``)."""
    from metalpipe_spark.operators.text import detect_language

    df = _one(upstreams, "DetectLanguage")
    out = opts.pop("output_col", "lang_detected")
    text = opts.pop("text_col", "text")
    return df.withColumn(
        out, _bind(detect_language, "DetectLanguage", spark, upstreams, opts, text)
    )


@node_class("DetectLanguageModel")
def _detect_language_model_node(spark, upstreams, opts):
    """Trained hashed-softmax language ID of ``text_key`` (default
    ``text``) into ``output_key`` (default ``lang_pred``); pinned
    weights by default, pass classes/weights/biases to serve a custom
    model."""
    from metalpipe_spark.operators.langid import detect_language_model

    df = _one(upstreams, "DetectLanguageModel")
    out = opts.pop("output_key", "lang_pred")
    text = opts.pop("text_key", "text")
    return df.withColumn(
        out, _bind(detect_language_model, "DetectLanguageModel", spark, upstreams, opts, text)
    )


@node_class("QualityScore")
def _quality_score(spark, upstreams, opts):
    """Quality score of ``text_col`` (default ``text``) into
    ``output_col`` (default ``quality``)."""
    from metalpipe_spark.operators.text import quality_score

    df = _one(upstreams, "QualityScore")
    out = opts.pop("output_col", "quality")
    text = opts.pop("text_col", "text")
    return df.withColumn(out, _bind(quality_score, "QualityScore", spark, upstreams, opts, text))


@node_class("ExactDedup")
def _exact_dedup_node(spark, upstreams, opts):
    """Keep the full rows of the canonical (lowest-id) document per
    normalized-text fingerprint (left_semi against the keeper ids)."""
    from metalpipe_spark.operators.dedup import exact_dedup

    df = _one(upstreams, "ExactDedup")
    keep = _bind(exact_dedup, "ExactDedup", spark, upstreams, opts, df)
    return df.join(keep, keep.columns, "left_semi")


@node_class("NearDupDedup")
def _near_dup_dedup_node(spark, upstreams, opts):
    """MinHash-LSH pairs cut at ``est_jaccard >= threshold`` (default
    0.5), then connected-component dedup (``dedup_corpus``, which takes
    ``checkpoint_dir``).  YAML defaults ``bands`` to 8 (minhash_lsh_pairs
    defaults 4); ``auto_bands: true`` hands ``threshold`` to the
    S-curve tuner (tune_lsh_bands) so the banding is sized for the SAME
    cut.  ``hash: xxhash64`` is the production knob (1.3-1.4x measured
    on the minhash family); md5 stays the portable default."""
    from metalpipe_spark.operators.dedup import dedup_corpus, minhash_lsh_pairs

    df = _one(upstreams, "NearDupDedup")
    threshold = opts.pop("threshold", 0.5)
    if opts.pop("auto_bands", False):
        opts["threshold"] = threshold
    checkpoint_dir = opts.pop("checkpoint_dir", None)
    opts.setdefault("bands", 8)
    pairs = _bind(minhash_lsh_pairs, "NearDupDedup", spark, upstreams, opts, df)
    return dedup_corpus(
        df,
        pairs.where(F.col("est_jaccard") >= threshold),
        id_col=_default(minhash_lsh_pairs, opts, "id_col"),
        checkpoint_dir=checkpoint_dir,
    )


@node_class("IncrementalExactSubstr")
def _incremental_exact_substr_node(spark, upstreams, opts):
    """Incremental ExactSubstr against a persisted window store: one
    upstream = first build, two ordered upstreams = [batch, store].
    Emits the cleaned batch; the updated store is exposed via
    ``store_view`` for a downstream sink (the IncrementalEmbed
    pattern)."""
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    if len(upstreams) not in (1, 2):
        raise ValueError(
            "IncrementalExactSubstr takes [batch] or [batch, store]"
            " upstreams"
        )
    store_view = opts.pop("store_view", None)
    clean, store = _bind(
        incremental_exact_substr, "IncrementalExactSubstr", spark, upstreams, opts,
        upstreams[0], upstreams[1] if len(upstreams) == 2 else None,
    )
    if store_view:
        store.createOrReplaceTempView(store_view)
    return clean


@node_class("QualityFilter")
def _quality_filter_node(spark, upstreams, opts):
    """Gopher-style composite filter; ``keep_only: true`` (default)
    drops failing docs, else annotates with keep/drop_reason."""
    from metalpipe_spark.operators.text import quality_filter

    df = _one(upstreams, "QualityFilter")
    keep_only = opts.pop("keep_only", True)
    verdicts = _bind(quality_filter, "QualityFilter", spark, upstreams, opts, df)
    id_col = _default(quality_filter, opts, "id_col")
    if keep_only:
        keepers = verdicts.where(F.col("keep")).select(id_col)
        return df.join(keepers, id_col, "left_semi")
    return df.join(verdicts, id_col)


@node_class("IncrementalEmbed")
def _incremental_embed_node(spark, upstreams, opts):
    """Fingerprint-incremental embedding: one upstream = first build
    (no store), two ordered upstreams = [batch, store].  Emits the
    updated store; the fresh slice is exposed via ``fresh_view`` for a
    downstream SQLExecute node (the Decontaminate report pattern)."""
    from metalpipe_spark.operators.inference import incremental_embed

    if len(upstreams) not in (1, 2):
        raise ValueError(
            "IncrementalEmbed takes [batch] or [batch, store] upstreams"
        )
    fresh_view = opts.pop("fresh_view", None)
    fresh, updated = _bind(
        incremental_embed, "IncrementalEmbed", spark, upstreams, opts,
        upstreams[0], upstreams[1] if len(upstreams) == 2 else None,
    )
    if fresh_view:
        fresh.createOrReplaceTempView(fresh_view)
    return updated


@node_class("Decontaminate")
def _decontaminate_node(spark, upstreams, opts):
    """Two ordered upstreams: [corpus, benchmark].  Emits the clean
    corpus; the report is exposed via ``report_view`` (a temp view) for
    a downstream SQLExecute node.

    ``method: bloom`` swaps the exact broadcast-shingle-index for the
    Bloom-mask probe (operators/sketches.bloom_decontaminate) — fixed
    kilobyte broadcast instead of the benchmark's full shingle strings,
    one-sided false positives; knobs ``m_bits``/``k``/``min_hits`` and
    the production ``hash: xxhash64`` (probes measured 1.93x at sf1)
    apply to it.  The exact method hashes nothing (raw shingle join),
    so ``hash`` with ``method: exact`` is rejected rather than
    ignored."""
    from metalpipe_spark.operators.dedup import decontaminate
    from metalpipe_spark.operators.sketches import bloom_decontaminate

    method = opts.pop("method", "exact")
    report_view = opts.pop("report_view", None)
    if len(upstreams) != 2:
        raise ValueError("Decontaminate requires [corpus, benchmark] upstreams")
    if method == "bloom":
        fn = bloom_decontaminate
    elif method == "exact":
        if "hash" in opts:
            raise ValueError(
                "Decontaminate(method=exact) joins raw shingles and "
                "hashes nothing — the hash option only applies to "
                "method: bloom"
            )
        fn = decontaminate
    else:
        raise ValueError(
            f"Decontaminate method must be 'exact' or 'bloom', got {method!r}"
        )
    clean, report = _bind(fn, "Decontaminate", spark, upstreams, opts, *upstreams)
    if report_view:
        report.createOrReplaceTempView(report_view)
    return clean


@node_class("KeepBestDedup")
def _keep_best_dedup_node(spark, upstreams, opts):
    """Two ordered upstreams: [docs, cluster assignments].  Keeps the
    highest-``score_col`` member per cluster (q_dedup_keep_best)."""
    from metalpipe_spark.operators.dedup import dedup_corpus_keep_best

    if len(upstreams) != 2:
        raise ValueError("KeepBestDedup requires [docs, assignments] upstreams")
    return _bind(dedup_corpus_keep_best, "KeepBestDedup", spark, upstreams, opts, *upstreams)


@node_class("VocabCoverage")
def _vocab_coverage_node(spark, upstreams, opts):
    """Per-document OOV stats against the corpus top-k vocabulary
    (q_vocab_coverage); one upstream = self-vocabulary, two = probe the
    first against a vocabulary built from the second.  ``vocab_size``
    goes to build_vocabulary, ``text_col`` to both operators."""
    from metalpipe_spark.operators.text import build_vocabulary, oov_rate

    if len(upstreams) == 1:
        docs = vocab_src = upstreams[0]
    elif len(upstreams) == 2:
        docs, vocab_src = upstreams
    else:
        raise ValueError("VocabCoverage takes [docs] or [docs, vocab_corpus]")
    vocab_opts = {k: opts.pop(k) for k in ("vocab_size",) if k in opts}
    vocab_opts["text_col"] = _default(oov_rate, opts, "text_col")
    vocab = _bind(build_vocabulary, "VocabCoverage", spark, upstreams, vocab_opts, vocab_src)
    return _bind(oov_rate, "VocabCoverage", spark, upstreams, opts, docs, vocab)


@node_class("LeakageFreeSplit")
def _leakage_free_split_node(spark, upstreams, opts):
    """Two ordered upstreams: [docs, cluster assignments] — split on the
    cluster representative so near-dups never straddle a boundary
    (q_leakage_free_split)."""
    from metalpipe_spark.operators.curation import leakage_free_split

    if len(upstreams) != 2:
        raise ValueError("LeakageFreeSplit requires [docs, assignments] upstreams")
    return _bind(leakage_free_split, "LeakageFreeSplit", spark, upstreams, opts, *upstreams)


@node_class("ExtractHost")
def _extract_host_node(spark, upstreams, opts):
    """Append the lower-cased (www-folded) host of the URL column
    ``url_key`` (default ``url``) as ``output_key`` (default ``host``)."""
    from metalpipe_spark.operators.web import extract_host

    df = _one(upstreams, "ExtractHost")
    out = opts.pop("output_key", "host")
    url = opts.pop("url_key", "url")
    return df.withColumn(out, _bind(extract_host, "ExtractHost", spark, upstreams, opts, url))


@node_class("URLNormalize")
def _url_normalize_node(spark, upstreams, opts):
    """Append (or replace with) the canonical form of the URL column
    ``url_key`` (default ``url``) as ``output_key`` (default
    ``url_norm``)."""
    from metalpipe_spark.operators.web import url_normalize

    df = _one(upstreams, "URLNormalize")
    out = opts.pop("output_key", "url_norm")
    url = opts.pop("url_key", "url")
    return df.withColumn(out, _bind(url_normalize, "URLNormalize", spark, upstreams, opts, url))


@node_class("DomainStats")
def _domain_stats_node(spark, upstreams, opts):
    """Per-domain aggregates (host, n_docs, n_urls[, total_size]).  YAML
    spells ``url_col`` / ``size_col`` as ``url_key`` / ``size_key``."""
    from metalpipe_spark.operators.web import domain_stats

    _rename(opts, url_key="url_col", size_key="size_col")
    return _bind(domain_stats, "DomainStats", spark, upstreams, opts)


@node_class("HostFilter")
def _host_filter_node(spark, upstreams, opts):
    """Allow/block-list host filtering (lists inline as plan literals).
    YAML spells ``url_col`` as ``url_key``."""
    from metalpipe_spark.operators.web import host_filter

    _rename(opts, url_key="url_col")
    return _bind(host_filter, "HostFilter", spark, upstreams, opts)


@node_class("URLDedup")
def _url_dedup_node(spark, upstreams, opts):
    """Min-id survivor per canonical URL (url_normalize key).  YAML
    spells ``url_col`` / ``id_col`` as ``url_key`` / ``id_key``."""
    from metalpipe_spark.operators.web import url_dedup

    _rename(opts, url_key="url_col", id_key="id_col")
    return _bind(url_dedup, "URLDedup", spark, upstreams, opts)


@node_class("TrainBPE")
def _train_bpe_node(spark, upstreams, opts):
    """Learn a BPE merge table from the upstream corpus
    (operators/bpe.py:train_bpe).  YAML spells ``text_col`` as
    ``text_column``."""
    from metalpipe_spark.operators.bpe import train_bpe

    _rename(opts, text_column="text_col")
    return _bind(train_bpe, "TrainBPE", spark, upstreams, opts)


@node_class("BPEEncode")
def _bpe_encode_node(spark, upstreams, opts):
    """Encode the corpus with a merge table: either ``merges`` inline
    ([[left, right], ...]) or a second upstream (TrainBPE output).  YAML
    spells ``text_col`` / ``id_col`` as ``text_column`` /
    ``id_column``."""
    from metalpipe_spark.operators.bpe import bpe_encode

    merges = opts.pop("merges", None)
    if merges is not None:
        corpus = _one(upstreams, "BPEEncode")
        merges = [tuple(m) for m in merges]
    else:
        if len(upstreams) != 2:
            raise ValueError(
                "BPEEncode needs `merges` inline or exactly two "
                "upstreams (corpus, TrainBPE table)"
            )
        tables = [u for u in upstreams if {"rank", "left", "right"} <= set(u.columns)]
        if len(tables) != 1:
            raise ValueError("BPEEncode: exactly one upstream must be a merge table")
        merges = tables[0]
        corpus = next(u for u in upstreams if u is not merges)
    _rename(opts, text_column="text_col", id_column="id_col")
    return _bind(bpe_encode, "BPEEncode", spark, upstreams, opts, corpus, merges)


@node_class("TrainUnigram")
def _train_unigram_node(spark, upstreams, opts):
    """Learn a unigram (SentencePiece-family) piece table
    (operators/unigram.py:train_unigram).  YAML spells ``text_col`` as
    ``text_column``."""
    from metalpipe_spark.operators.unigram import train_unigram

    _rename(opts, text_column="text_col")
    return _bind(train_unigram, "TrainUnigram", spark, upstreams, opts)


@node_class("UnigramEncode")
def _unigram_encode_node(spark, upstreams, opts):
    """Viterbi-encode the corpus: ``pieces`` inline ({piece: logprob})
    or a second upstream (TrainUnigram output).  YAML spells
    ``text_col`` / ``id_col`` as ``text_column`` / ``id_column``."""
    from metalpipe_spark.operators.unigram import unigram_encode

    pieces = opts.pop("pieces", None)
    if pieces is not None:
        corpus = _one(upstreams, "UnigramEncode")
    else:
        if len(upstreams) != 2:
            raise ValueError(
                "UnigramEncode needs `pieces` inline or exactly two "
                "upstreams (corpus, TrainUnigram table)"
            )
        tables = [u for u in upstreams if {"piece", "logprob"} <= set(u.columns)]
        if len(tables) != 1:
            raise ValueError("UnigramEncode: exactly one upstream must be a piece table")
        pieces = tables[0]
        corpus = next(u for u in upstreams if u is not pieces)
    _rename(opts, text_column="text_col", id_column="id_col")
    return _bind(unigram_encode, "UnigramEncode", spark, upstreams, opts, corpus, pieces)


@node_class("ParseRobots")
def _parse_robots_node(spark, upstreams, opts):
    """robots.txt bodies -> RFC 9309 rule table for one user-agent
    (operators/web.py:parse_robots); upstream rows carry host + body.
    YAML spells ``host_col`` / ``body_col`` as ``host_key`` /
    ``body_key``."""
    from metalpipe_spark.operators.web import parse_robots

    _rename(opts, host_key="host_col", body_key="body_col")
    return _bind(parse_robots, "ParseRobots", spark, upstreams, opts)


@node_class("ParseSitemap")
def _parse_sitemap_node(spark, upstreams, opts):
    """sitemap.xml bodies -> frontier rows (kind/url/lastmod), urlset
    and sitemapindex both handled (operators/web.py:parse_sitemap);
    ``urls_only: true`` keeps the url rows.  YAML spells ``body_col`` as
    ``body_key``."""
    from metalpipe_spark.operators.web import parse_sitemap

    urls_only = opts.pop("urls_only", False)
    _rename(opts, body_key="body_col")
    out = _bind(parse_sitemap, "ParseSitemap", spark, upstreams, opts)
    if urls_only:
        out = out.where(F.col("kind") == "url")
    return out


@node_class("RobotsFilter")
def _robots_filter_node(spark, upstreams, opts):
    """Crawl-politeness filter: first upstream is the URL frontier,
    second the ParseRobots rule table (broadcast; the frontier never
    shuffles).  ``keep: all`` annotates with crawl_allowed instead of
    filtering.  YAML spells ``url_col`` as ``url_key``."""
    from metalpipe_spark.operators.web import robots_filter

    if len(upstreams) != 2:
        raise ValueError(
            "RobotsFilter requires exactly two upstream nodes "
            "(frontier, rules)"
        )
    # Upstream order follows YAML path declaration order — identify the
    # ParseRobots table by its schema instead of by position.
    rule_cols = {"host", "rule", "prefix", "wild", "pattern"}
    is_rules = [rule_cols.issubset(set(u.columns)) for u in upstreams]
    if is_rules == [True, False]:
        rules, frontier = upstreams
    elif is_rules == [False, True]:
        frontier, rules = upstreams
    else:
        raise ValueError(
            "RobotsFilter: exactly one upstream must be a ParseRobots "
            f"rule table (host/rule/prefix/wild/pattern); got {is_rules}"
        )
    _rename(opts, url_key="url_col")
    return _bind(robots_filter, "RobotsFilter", spark, upstreams, opts, frontier, rules)


@node_class("HistogramQuantiles")
def _histogram_quantiles_node(spark, upstreams, opts):
    """Deterministic histogram-sketch quantiles per group
    (operators/sketches.py:histogram_sketch_quantiles).  YAML spells
    ``col`` / ``group_cols`` as ``column`` / ``group_by``."""
    from metalpipe_spark.operators.sketches import histogram_sketch_quantiles

    _rename(opts, column="col", group_by="group_cols")
    return _bind(histogram_sketch_quantiles, "HistogramQuantiles", spark, upstreams, opts)


@node_class("ModelQualityFilter")
def _model_quality_filter_node(spark, upstreams, opts):
    """Hashed-feature linear classifier filter; ``keep_only: true``
    (default) drops failing docs, else annotates logit/keep."""
    from metalpipe_spark.operators.text import model_quality_filter

    keep_only = opts.pop("keep_only", True)
    out = _bind(model_quality_filter, "ModelQualityFilter", spark, upstreams, opts)
    if keep_only:
        return out.where(F.col("keep")).drop("logit", "keep")
    return out


@node_class("DSIRWeights")
def _dsir_weights_node(spark, upstreams, opts):
    """DSIR importance weights (q_dsir_weights): two ordered upstreams
    [corpus, target]; per-doc hashed-ngram log importance."""
    from metalpipe_spark.operators.curation import dsir_importance_weights

    if len(upstreams) != 2:
        raise ValueError("DSIRWeights requires [corpus, target] upstreams")
    return _bind(dsir_importance_weights, "DSIRWeights", spark, upstreams, opts, *upstreams)


@node_class("DSIRSample")
def _dsir_sample_node(spark, upstreams, opts):
    """Deterministic DSIR top-k selection (q_dsir_sample): two ordered
    upstreams [corpus, weights]."""
    from metalpipe_spark.operators.curation import dsir_topk_sample

    if len(upstreams) != 2:
        raise ValueError("DSIRSample requires [corpus, weights] upstreams")
    return _bind(dsir_topk_sample, "DSIRSample", spark, upstreams, opts, *upstreams)


@node_class("SemanticDedup")
def _semantic_dedup_node(spark, upstreams, opts):
    """SemDeDup over an embedding column.

    CORPUS-SCALE USERS: set ``scaled: true`` (optionally with
    ``target_cell_size`` / ``fit_fraction`` / ``seed``) — that routes to
    :func:`semantic_dedup_scaled`, which sizes the cell count to the
    corpus (k = n / target_cell_size, sampled k-means fit, map-side
    assignment) so total work stays LINEAR in the input.  The
    fixed-centroid paths below are the SQL-replayable oracle faces: the
    per-cell comparison is quadratic in cell size, so a fixed centroid
    set turns 10x data into ~100x work (measured 38x growth on a 10x
    corpus, SCALING.md) — never point them at a real corpus.

    Fixed-centroid knobs: ``centroids`` inline, or
    ``num_centroids``/``dim`` (default 8/64) for the deterministic set;
    ``use_gemm`` (default true) picks the BLAS kernel
    (semantic_dedup_gemm) over semantic_dedup."""
    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        semantic_dedup,
        semantic_dedup_gemm,
        semantic_dedup_scaled,
    )

    df = _one(upstreams, "SemanticDedup")
    scaled = opts.pop("scaled", None)
    if scaled is False and "target_cell_size" in opts:
        # An EXPLICIT scaled: false alongside a scaled-only knob is a
        # contradiction — reject it like the centroid conflict below
        # rather than silently overriding what the user wrote.
        raise ValueError(
            "SemanticDedup: scaled: false contradicts target_cell_size "
            "(a scaled-path knob) — drop one"
        )
    centroids = opts.pop("centroids", None)
    num_centroids = opts.pop("num_centroids", None)
    dim = opts.pop("dim", 64)
    use_gemm = opts.pop("use_gemm", True)
    if scaled or "target_cell_size" in opts:
        if centroids or num_centroids:
            raise ValueError(
                "SemanticDedup: scaled mode sizes its own centroid count "
                "(k = n / target_cell_size) — drop centroids/num_centroids "
                "or drop scaled/target_cell_size"
            )
        return _bind(semantic_dedup_scaled, "SemanticDedup", spark, upstreams, opts, df)
    cents = centroids or deterministic_centroids(
        8 if num_centroids is None else num_centroids, dim
    )
    fn = semantic_dedup_gemm if use_gemm else semantic_dedup
    return _bind(fn, "SemanticDedup", spark, upstreams, opts, df, cents)


# ---------------------------------------------------------------------------
# Config phases: template → secrets → parse → compile


def render_template(text: str, variables: Mapping[str, Any] | None = None) -> str:
    """bin/metalpipe:46-74 — jinja2 render where every undeclared variable
    is an evaluator: a dotted path imported and called with no args, else
    an environment variable."""
    try:
        import jinja2
        from jinja2 import meta
    except ImportError:  # pragma: no cover - jinja2 is available in CI
        return text

    env = jinja2.Environment()
    ast = env.parse(text)
    names = meta.find_undeclared_variables(ast)
    ctx = dict(variables or {})
    for name in names:
        if name in ctx:
            continue
        if "__" in name:
            # The reference's evaluator form (bin/metalpipe:62-72):
            # jinja identifiers cannot contain '.', so dotted function
            # paths are written with '__' as the module separator and
            # the function is imported and called with no args.  (A
            # branch keyed on '.' in the name is dead code — jinja's
            # undeclared-variable names are plain identifiers.)
            ctx[name] = load_function(name.replace("__", "."))()
        elif name in os.environ:
            ctx[name] = os.environ[name]
        else:
            raise ValueError(f"unresolved template variable: {name!r}")
    return env.from_string(text).render(**ctx)


def apply_secrets(config: Any, secrets: Mapping[str, Any]) -> Any:
    """bin/metalpipe:23-37 (seek_and_replace) — replace token strings with
    secret values everywhere in the config tree."""
    if isinstance(config, str):
        return secrets.get(config, config)
    if isinstance(config, Mapping):
        return {k: apply_secrets(v, secrets) for k, v in config.items()}
    if isinstance(config, list):
        return [apply_secrets(v, secrets) for v in config]
    return config


def apply_break_test(df: DataFrame, spec: Mapping[str, Any]) -> DataFrame:
    """Universal ``break_test`` node option (node.py:183,208-211,477-486):
    the reference loads a dotted-path predicate, yields each output
    message, then stops the node once the predicate fires.  Batch analog:
    keep rows up to AND INCLUDING the first row (in ``order_by`` order)
    whose predicate is true — the triggering message is emitted before the
    break, exactly as the reference yields-then-tests.

    Spec: ``{function: dotted.path, order_by: col, key: col?}`` —
    ``order_by`` is required because a DataFrame has no arrival order (the
    thread-per-node stream did).  Plan shape: one 1-row min-aggregate of
    the triggering order values, broadcast back as a scalar bound — no
    global sort, no single-partition window.
    """
    if not isinstance(spec, Mapping) or "function" not in spec or "order_by" not in spec:
        raise ValueError(
            "break_test needs {function: dotted.path, order_by: column} — "
            "batch compilation requires an explicit message order"
        )
    fn = wrap_udf(spec["function"], "boolean", mode=spec.get("mode", "pandas"))
    cols = [spec["key"]] if "key" in spec else df.columns
    ord_col = F.col(spec["order_by"])
    flagged = df.withColumn("__bt", fn(*[F.col(c) for c in cols]))
    stop = flagged.filter(F.col("__bt")).agg(F.min(ord_col).alias("__stop"))
    return (
        flagged.crossJoin(F.broadcast(stop))
        .filter(F.col("__stop").isNull() | (ord_col <= F.col("__stop")))
        .drop("__bt", "__stop")
    )


def _rename_all(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    for src, tgt in mapping.items():
        df = df.withColumnRenamed(src, tgt)
    return df


def _edges(config: Mapping[str, Any]) -> list[tuple[str, str]]:
    edges: list[tuple[str, str]] = []
    for path in config.get("paths", []) or []:
        edges += list(zip(path, path[1:]))
    for e in config.get("edges", []) or []:
        if isinstance(e, Mapping):
            # reference vocabulary is source/target (bin/metalpipe:98-99);
            # from/to kept as this engine's alias.
            if "source" in e:
                edges.append((e["source"], e["target"]))
            else:
                edges.append((e["from"], e["to"]))
        else:
            edges.append(tuple(e))
    return edges


@dataclass
class CompiledPipeline:
    """The compiled DataFrame DAG: every node's DataFrame plus the
    terminals (nodes with no downstream edge)."""

    dataframes: dict[str, DataFrame]
    terminals: list[str]
    specs: dict[str, NodeSpec]

    def terminal_frames(self) -> dict[str, DataFrame]:
        return {t: self.dataframes[t] for t in self.terminals}


def compile_pipeline(
    spark: SparkSession,
    config: Mapping[str, Any],
    capture_dir: str | None = None,
) -> CompiledPipeline:
    """Build every node's DataFrame in topological order.

    ``capture_dir`` is the record/replay fixturizer hook
    (/root/reference/metalpipe/utils/metalpipe_recorder.py:7-45, which
    recorded every node's messages to Redis): each batch node's output is
    written to ``{capture_dir}/{node_name}`` as parquet at compile time;
    :func:`replay_capture` reads one back.  Streaming nodes are skipped
    (capture their sinks via checkpointed output instead)."""
    nodes = {
        name: NodeSpec(name=name, cls=spec["class"], options=spec.get("options", {}) or {})
        for name, spec in config["nodes"].items()
    }
    edges = _edges(config)
    for a, b in edges:
        for n in (a, b):
            if n not in nodes:
                raise ValueError(f"edge references unknown node {n!r}")

    upstreams: dict[str, list[str]] = {n: [] for n in nodes}
    downstream_count: dict[str, int] = {n: 0 for n in nodes}
    for a, b in edges:
        upstreams[b].append(a)
        downstream_count[a] += 1

    built: dict[str, DataFrame] = {}
    remaining = set(nodes)
    while remaining:
        progressed = False
        for name in sorted(remaining):
            if all(u in built for u in upstreams[name]):
                spec = nodes[name]
                if spec.cls not in NODE_CLASSES:
                    raise ValueError(f"unknown node class {spec.cls!r} for node {name!r}")
                # Universal node options (every reference node supports
                # them): input_mapping renames on ingest (node.py:148-150),
                # post_process_function applies at a keypath of each
                # output (node.py:227-255).
                opts = dict(spec.options)
                input_mapping = opts.pop("input_mapping", None)
                post_fn = opts.pop("post_process_function", None)
                post_keypath = opts.pop("post_process_keypath", None)
                post_rt = opts.pop("post_process_return_type", "string")
                break_spec = opts.pop("break_test", None)
                # max_messages_received (node.py:170,445-450): the node
                # stops CONSUMING after N messages — an INPUT bound, so
                # it limits each upstream BEFORE the node runs (limiting
                # the output instead silently changes aggregating nodes:
                # a collect_list over ALL rows limited to N output rows
                # is not an aggregate over the first N inputs).  With
                # several upstreams the reference counts N TOTAL arrivals
                # in interleaved order (node.py:445-450); batch has no
                # arrival order, so the sequential-exhaustion
                # interleaving (a valid arrival order: drain upstream 0,
                # then 1, ... until N consumed) is realized — never more
                # than N rows total.  Source nodes (no upstreams) bound their own
                # emission.  throttle (node.py:142,167,452-453) is a
                # per-message sleep — meaningless under Spark's
                # pull-based batch execution, so it is accepted
                # (reference configs compile unchanged) and ignored; a
                # streaming deployment controls cadence with trigger
                # intervals instead.
                max_messages = opts.pop("max_messages_received", None)
                opts.pop("throttle", None)
                ups = [built[u] for u in upstreams[name]]
                if max_messages is not None and ups:
                    if any(u.isStreaming for u in ups):
                        raise ValueError(
                            f"node {name!r}: max_messages_received is a "
                            "batch option (a streaming node bounds work "
                            "with availableNow/maxFilesPerTrigger)"
                        )
                    if len(ups) == 1:
                        ups = [ups[0].limit(int(max_messages))]
                    else:
                        budget = int(max_messages)
                        limited = []
                        for u in ups:
                            u = u.limit(budget)
                            if budget > 0:
                                budget -= u.count()
                            limited.append(u)
                        ups = limited
                if input_mapping:
                    ups = [
                        _rename_all(u, input_mapping) for u in ups
                    ]
                try:
                    df = NODE_CLASSES[spec.cls](spark, ups, opts)
                except ValueError as exc:
                    raise ValueError(f"node {name!r}: {exc}") from exc
                if df is None:
                    raise ValueError(f"node {name!r} produced no DataFrame")
                if post_fn:
                    if post_keypath is None:
                        raise ValueError(
                            f"node {name!r}: post_process_function needs "
                            "post_process_keypath (which column/keypath "
                            "the function rewrites)"
                        )
                    from metalpipe_spark.keypath import get_value, set_value

                    fn = wrap_udf(post_fn, post_rt)
                    df = set_value(df, post_keypath, fn(get_value(post_keypath)))
                if break_spec:
                    df = apply_break_test(df, break_spec)
                if max_messages is not None and not upstreams[name]:
                    # Source node: its "messages" are what it emits.
                    if df.isStreaming:
                        raise ValueError(
                            f"node {name!r}: max_messages_received is a "
                            "batch option (a streaming node bounds work "
                            "with availableNow/maxFilesPerTrigger)"
                        )
                    df = df.limit(int(max_messages))
                if capture_dir is not None and not df.isStreaming:
                    df.write.mode("overwrite").parquet(
                        os.path.join(capture_dir, name)
                    )
                built[name] = df
                remaining.discard(name)
                progressed = True
                break
        if not progressed:
            raise ValueError(f"pipeline has a cycle among {sorted(remaining)}")

    terminals = [n for n in nodes if downstream_count[n] == 0]
    return CompiledPipeline(dataframes=built, terminals=terminals, specs=nodes)


def load_yaml_pipeline(
    spark: SparkSession,
    text: str,
    variables: Mapping[str, Any] | None = None,
    secrets_files: list[str] | None = None,
    capture_dir: str | None = None,
) -> CompiledPipeline:
    """Full reference entry path: template → secrets → parse → compile."""
    import yaml

    rendered = render_template(text, variables)
    config = yaml.safe_load(rendered)
    secret_map: dict[str, Any] = {}
    sf = secrets_files or config.get("secrets_files") or {}
    if isinstance(sf, Mapping):
        # Reference shape (bin/metalpipe:77-83): {cache_name: filename},
        # and config tokens are namespaced '{cache_name}.{key}'.
        for cache, path in sf.items():
            with open(path) as fh:
                for k, v in (yaml.safe_load(fh) or {}).items():
                    secret_map[f"{cache}.{k}"] = v
    else:
        # legacy list-of-paths shape with bare-key tokens
        for path in sf:
            with open(path) as fh:
                secret_map.update(yaml.safe_load(fh) or {})
    if secret_map:
        config = apply_secrets(config, secret_map)
    return compile_pipeline(spark, config, capture_dir=capture_dir)


def replay_capture(spark: SparkSession, capture_dir: str, name: str) -> DataFrame:
    """Replay one captured node's output (metalpipe_recorder.py:7-45's
    read side): the fixture parquet written by ``compile_pipeline``."""
    return spark.read.parquet(os.path.join(capture_dir, name))


def run_pipeline(pipeline: CompiledPipeline, show: bool = False) -> dict[str, int]:
    """Execute the terminal actions; returns row counts per terminal (the
    reference's monitor-table row counters, node.py:871-975)."""
    counts = {}
    for name, df in pipeline.terminal_frames().items():
        if df.isStreaming:
            raise ValueError(
                f"terminal node {name!r} is a streaming DataFrame; "
                "run_pipeline executes BATCH terminals only — wire "
                "streaming terminals through streaming/streams.py sinks "
                "(foreach_batch_sink / file sinks) instead of count()"
            )
        if show and pipeline.specs[name].cls == "PrinterOfThings":
            df.show(truncate=False)
        counts[name] = df.count()
    return counts
