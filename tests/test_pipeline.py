"""Pipeline-config compiler tests (SURVEY.md §3.1): YAML → DataFrame DAG.

Mirrors the reference's pipeline-mechanics tests
(/root/reference/tests/test_metalpipe_processor.py:47-158): linking,
fan-in, end-to-end content assertions on a sink node.
"""

from __future__ import annotations

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.plans.pipeline import (
    apply_secrets,
    compile_pipeline,
    load_yaml_pipeline,
    render_template,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


def test_linear_pipeline_filter_remap(spark):
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/customer.parquet"}},
            "only_building": {
                "class": "Filter",
                "options": {"test": "value_is_not_none", "test_keypath": "c_name"},
            },
            "shape": {
                "class": "Remapper",
                "options": {"mapping": {"id": "c_custkey", "segment": "c_mktsegment"}},
            },
        },
        "paths": [["read", "only_building", "shape"]],
    }
    p = compile_pipeline(spark, config)
    assert p.terminals == ["shape"]
    df = p.dataframes["shape"]
    assert df.columns == ["id", "segment"]
    direct = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    assert df.count() == direct.filter(F.col("c_name").isNotNull()).count()


def test_fan_in_union(spark):
    config = {
        "nodes": {
            "a": {"class": "CounterOfThings", "options": {"start": 0, "end": 5}},
            "b": {"class": "CounterOfThings", "options": {"start": 100, "end": 103}},
            "sink": {"class": "BlackHole"},
        },
        "edges": [["a", "sink"], ["b", "sink"]],
    }
    p = compile_pipeline(spark, config)
    rows = sorted(r["count"] for r in p.dataframes["sink"].collect())
    assert rows == [0, 1, 2, 3, 4, 100, 101, 102]


def test_join_node(spark):
    config = {
        "nodes": {
            "orders": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/orders.parquet"}},
            "customer": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/customer.parquet"}},
            "rename": {
                "class": "Remapper",
                "options": {"mapping": {"o_custkey": "c_custkey", "c_name": "c_name"}},
            },
            "joined": {"class": "Join", "options": {"on": "o_custkey", "broadcast": True}},
        },
        "paths": [["orders", "joined"], ["customer", "rename", "joined"]],
    }
    p = compile_pipeline(spark, config)
    df = p.dataframes["joined"]
    assert "c_name" in df.columns and "o_orderkey" in df.columns
    assert df.count() > 0


def test_cycle_detection(spark):
    config = {
        "nodes": {
            "a": {"class": "BlackHole"},
            "b": {"class": "BlackHole"},
        },
        "edges": [["a", "b"], ["b", "a"]],
    }
    with pytest.raises(ValueError, match="cycle"):
        compile_pipeline(spark, config)


def test_yaml_template_secrets_end_to_end(spark, tmp_path):
    secrets = tmp_path / "secrets.yaml"
    secrets.write_text("cache.token: sf_dir_value\n")
    os.environ["MPS_TEST_DATA_DIR"] = SF_SMOKE
    text = textwrap.dedent(
        """
        pipeline_name: smoke
        nodes:
          read:
            class: ParquetReader
            options: {path: "{{ MPS_TEST_DATA_DIR }}/nation.parquet"}
          tag:
            class: InsertData
            options:
              values: {source: cache.token}
        paths:
          - [read, tag]
        """
    )
    p = load_yaml_pipeline(spark, text, secrets_files=[str(secrets)])
    row = p.dataframes["tag"].select("source").head()
    assert row[0] == "sf_dir_value"
    counts = run_pipeline(p)
    assert counts["tag"] == 25


def test_universal_node_options(spark):
    """input_mapping renames on ingest; post_process_function applies a
    dotted-path UDF at a keypath of each output."""
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/nation.parquet"}},
            "shaped": {
                "class": "Remapper",
                "options": {
                    "input_mapping": {"n_name": "nation_name"},
                    "mapping": {"name": "nation_name", "key": "n_nationkey"},
                    "post_process_function": "metalpipe_spark.functions.scalars.lower_str",
                    "post_process_keypath": "name",
                },
            },
        },
        "paths": [["read", "shaped"]],
    }
    p = compile_pipeline(spark, config)
    names = [r["name"] for r in p.dataframes["shaped"].orderBy("key").collect()]
    assert names[0] == "nation_0"  # renamed on ingest, lowered on egress


def test_render_template_env(monkeypatch):
    monkeypatch.setenv("MPS_TPL_X", "42")
    assert render_template("v={{ MPS_TPL_X }}") == "v=42"
    with pytest.raises(ValueError, match="unresolved"):
        render_template("v={{ not_a_real_thing_xyz }}")


def test_streaming_pipeline_yaml(spark, tmp_path):
    """A YAML config whose source is the streaming file watchdog and
    whose transform is a tumbling window — compiled and executed with an
    availableNow trigger (the reference's TimeWindowAccumulator intent)."""
    from metalpipe_spark.sources.readers import load_table
    from metalpipe_spark.streaming.streams import run_to_memory

    ev = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "ev"
    ev.limit(500).write.parquet(str(src))
    ddl = ev.schema.simpleString()[7:-1].replace(":", " ")  # struct<...> -> DDL-ish
    config = {
        "nodes": {
            "watch": {
                "class": "LocalDirectoryWatchdog",
                "options": {"directory": str(src), "schema": ev.schema.json() and ddl},
            },
            "windowed": {
                "class": "TimeWindowAccumulator",
                "options": {
                    "ts_col": "ts",
                    "window": "1 day",
                    "aggregates": [{"fn": "count", "column": "*", "alias": "n"}],
                },
            },
        },
        "paths": [["watch", "windowed"]],
    }
    p = compile_pipeline(spark, config)
    df = p.dataframes["windowed"]
    assert df.isStreaming
    out = run_to_memory(df, "t_stream_yaml", spark, output_mode="complete")
    assert out.agg(F.sum("n")).head()[0] == 500


def test_cli_run_and_draw(spark, tmp_path, capsys):
    import textwrap

    from metalpipe_spark.cli import main

    cfg = tmp_path / "p.yaml"
    cfg.write_text(
        textwrap.dedent(
            f"""
            pipeline_name: cli_smoke
            nodes:
              read:
                class: ParquetReader
                options: {{path: "{SF_SMOKE}/region.parquet"}}
              hole:
                class: BlackHole
            paths:
              - [read, hole]
            """
        )
    )
    assert main(["draw", "--filename", str(cfg)]) == 0
    drawn = capsys.readouterr().out
    assert "read [ParquetReader] -> hole" in drawn
    assert main(["run", "--filename", str(cfg)]) == 0
    ran = capsys.readouterr().out
    assert '"hole": 5' in ran


def test_apply_secrets_nested():
    cfg = {"a": ["tok1", {"b": "tok2"}], "c": "plain"}
    out = apply_secrets(cfg, {"tok1": "X", "tok2": "Y"})
    assert out == {"a": ["X", {"b": "Y"}], "c": "plain"}


def test_break_test_stops_after_trigger(spark):
    """Universal break_test option (node.py:477-486): the triggering
    message is emitted (yield-then-test), nothing after it in order."""
    config = {
        "nodes": {
            "counter": {
                "class": "CounterOfThings",
                "options": {
                    "start": 0,
                    "end": 50,
                    "break_test": {
                        "function": "tests.udf_fixtures.count_is_ten",
                        "order_by": "count",
                        "key": "count",
                    },
                },
            },
        },
        "paths": [],
    }
    got = sorted(r["count"] for r in compile_pipeline(spark, config).dataframes["counter"].collect())
    assert got == list(range(11))  # 0..10 inclusive — the trigger flows


def test_break_test_no_trigger_keeps_all(spark):
    config = {
        "nodes": {
            "counter": {
                "class": "CounterOfThings",
                "options": {
                    "start": 20,
                    "end": 25,
                    "break_test": {
                        "function": "tests.udf_fixtures.count_is_ten",
                        "order_by": "count",
                        "key": "count",
                    },
                },
            },
        },
        "paths": [],
    }
    df = compile_pipeline(spark, config).dataframes["counter"]
    assert df.count() == 5


def test_break_test_requires_order(spark):
    config = {
        "nodes": {
            "c": {
                "class": "CounterOfThings",
                "options": {"start": 0, "end": 5, "break_test": {"function": "x.y"}},
            }
        },
        "paths": [],
    }
    with pytest.raises(ValueError, match="order"):
        compile_pipeline(spark, config)


def test_csv_to_dictionary_list_one_message(spark, tmp_path):
    """node.py:1080-1088: the whole CSV arrives as ONE message holding the
    row list (array<struct>), values as strings like csv.DictReader."""
    p = tmp_path / "people.csv"
    p.write_text("name,age\nada,36\ngrace,45\n")
    config = {
        "nodes": {
            "csv": {"class": "CSVToDictionaryList", "options": {"path": str(p)}},
        },
        "paths": [],
    }
    rows = compile_pipeline(spark, config).dataframes["csv"].collect()
    assert len(rows) == 1
    payload = sorted((r["name"], r["age"]) for r in rows[0]["rows"])
    assert payload == [("ada", "36"), ("grace", "45")]


def test_blocker_barrier(spark):
    """node.py:1720-1728: downstream of a Blocker sees schema but no rows."""
    config = {
        "nodes": {
            "src": {"class": "CounterOfThings", "options": {"start": 0, "end": 9}},
            "gate": {"class": "Blocker"},
            "sink": {"class": "BlackHole"},
        },
        "paths": [["src", "gate", "sink"]],
    }
    p = compile_pipeline(spark, config)
    assert p.dataframes["gate"].columns == ["count"]
    assert p.dataframes["sink"].count() == 0


def test_get_environment_variables_mappings(spark, monkeypatch):
    """node.py:1145-1191 incl. the mappings alias path; unset vars NULL."""
    monkeypatch.setenv("MP_TEST_TOKEN", "sekrit")
    monkeypatch.delenv("MP_TEST_MISSING", raising=False)
    config = {
        "nodes": {
            "env": {
                "class": "GetEnvironmentVariables",
                "options": {
                    "environment_variables": ["MP_TEST_TOKEN", "MP_TEST_MISSING"],
                    "mappings": {"MP_TEST_TOKEN": "token"},
                },
            },
        },
        "paths": [],
    }
    row = compile_pipeline(spark, config).dataframes["env"].head()
    assert row["token"] == "sekrit"
    assert row["MP_TEST_MISSING"] is None


def test_capture_replay_roundtrip(spark, tmp_path):
    """Record/replay fixturizer (metalpipe_recorder.py:7-45): every node's
    output captured at compile, replayable bit-for-bit."""
    from metalpipe_spark.plans.pipeline import replay_capture

    cap = str(tmp_path / "capture")
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/nation.parquet"}},
            "only": {
                "class": "Filter",
                "options": {"test": "value_is_not_none", "test_keypath": "n_name"},
            },
        },
        "paths": [["read", "only"]],
    }
    p = compile_pipeline(spark, config, capture_dir=cap)
    for node in ("read", "only"):
        live = sorted(map(tuple, p.dataframes[node].collect()))
        replayed = sorted(map(tuple, replay_capture(spark, cap, node).collect()))
        assert live == replayed and len(live) > 0


def test_ensure_table_exists_ddl():
    """civis_nodes.py:277-322: DDL built from the reference's column-spec
    dicts (and tuple shorthand), quoted and NULLable."""
    from metalpipe_spark.sinks.writers import ensure_table_exists

    ddl = ensure_table_exists(
        "target",
        [
            {"column_name": "id", "column_type": "BIGINT"},
            ("name", "VARCHAR(64)"),
        ],
        schema="public",
    )
    assert ddl == (
        'CREATE TABLE IF NOT EXISTS "public"."target" '
        '("id" BIGINT NULL, "name" VARCHAR(64) NULL)'
    )


def test_python_composition_api(spark):
    """Reference public API parity (node.py:278-284, README.rst:37-60):
    `a > b > c` chains, `>` returns the right operand, the graph lowers
    through the same compiler as YAML, run == global_start."""
    from metalpipe_spark.plans.api import node, compile_graph, run_graph

    read = node("ParquetReader", name="read", path=f"{SF_SMOKE}/customer.parquet")
    keep = node(
        "Filter", name="keep", test="value_is_not_none", test_keypath="c_name"
    )
    shape = node("Remapper", name="shape", mapping={"id": "c_custkey"})
    tail = read > keep > shape
    assert tail is shape  # chaining contract
    p = compile_graph(spark, keep)  # any node of the component works
    assert set(p.dataframes) == {"read", "keep", "shape"}
    assert p.terminals == ["shape"]
    counts = run_graph(spark, read)
    direct = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").filter(
        F.col("c_name").isNotNull()
    )
    assert counts == {"shape": direct.count()}


def test_python_api_fan_in(spark):
    from metalpipe_spark.plans.api import node, compile_graph

    a = node("CounterOfThings", name="a", start=0, end=3)
    b = node("CounterOfThings", name="b", start=10, end=14)
    sink = node("BlackHole", name="sink")
    a > sink
    b > sink
    p = compile_graph(spark, sink)
    assert p.dataframes["sink"].count() == 7


def test_sql_execute_node(spark):
    """SQLExecute (engine-native CivisSQLExecute, civis_nodes.py:374-426):
    upstreams become temp views, the SQL runs through Catalyst."""
    config = {
        "nodes": {
            "orders": {"class": "ParquetReader", "options": {"path": f"{SF_SMOKE}/orders.parquet"}},
            "agg": {
                "class": "SQLExecute",
                "options": {
                    "views": ["o"],
                    "sql": "SELECT o_orderpriority, COUNT(*) AS n FROM o GROUP BY 1",
                },
            },
        },
        "paths": [["orders", "agg"]],
    }
    df = compile_pipeline(spark, config).dataframes["agg"]
    direct = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").groupBy("o_orderpriority").count()
    assert {(r[0], r[1]) for r in df.collect()} == {(r[0], r[1]) for r in direct.collect()}


def test_curation_pipeline_yaml_end_to_end(spark):
    """The full training-data curation surface is reachable from the
    reference-style YAML path: scrub -> dedup -> chunk -> pack, plus a
    langid -> stratified-sample -> top-k branch off the same scrub."""
    text = textwrap.dedent(
        f"""
        pipeline_name: curation
        nodes:
          read:
            class: ParquetReader
            options: {{path: "{SF_SMOKE}/documents.parquet"}}
          scrub:
            class: ScrubPII
          dedup:
            class: ExactDedup
          chunk:
            class: ChunkDocuments
            options: {{chunk_tokens: 32, overlap: 8}}
          pack:
            class: PackShards
            options:
              weight_col: n_chunk_tokens
              order_col: chunk_id
              shard_budget: 512
          lang:
            class: DetectLanguage
          score:
            class: QualityScore
          sample:
            class: StratifiedSample
            options:
              strata_col: lang_detected
              fractions: {{en: 0.5, de: 0.5, fr: 0.5, es: 0.5}}
              key_col: doc_id
          top:
            class: TopKPerGroup
            options: {{group_col: lang_detected, order_col: quality, k: 3, tie_col: doc_id}}
        paths:
          - [read, scrub, dedup, chunk, pack]
          - [scrub, lang, score, sample, top]
        """
    )
    p = load_yaml_pipeline(spark, text)
    n_docs = p.dataframes["read"].count()
    assert p.dataframes["dedup"].count() <= n_docs
    chunks = p.dataframes["chunk"]
    assert chunks.count() >= p.dataframes["dedup"].count()
    packed = p.dataframes["pack"]
    assert packed.groupBy("shard_id").count().count() >= 2
    top = p.dataframes["top"].collect()
    assert top and all(r["rank"] <= 3 for r in top)
    # detected langs on the tiny smoke corpus may collapse to en-only
    # ('unk' is excluded by the sample fractions); membership is the
    # contract here, breadth is covered by q_langid's oracle row.
    langs = {r["lang_detected"] for r in top}
    assert langs and langs <= {"en", "de", "fr", "es", "zh"}


def test_cli_queries_and_explain(capsys):
    from metalpipe_spark.cli import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "q05_region_revenue" in out and "[oracle]" in out
    assert main(["explain", "q01_pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "HashAggregate" in out


def test_decontaminate_and_quality_nodes(spark):
    leak = "shared benchmark passage about spark engines at scale today"
    corpus = [(1, leak + " and more corpus content following it"),
              (2, "an ordinary training document with enough tokens here")]
    bench = [(100, leak)]
    config = {
        "nodes": {
            "corpus": {"class": "ParquetReader", "options": {"path": "__corpus__"}},
            "bench": {"class": "ParquetReader", "options": {"path": "__bench__"}},
            "decon": {
                "class": "Decontaminate",
                "options": {"min_shared": 3, "report_view": "decon_report"},
            },
            "quality": {"class": "QualityFilter"},
            "pdedup": {"class": "ParagraphDedup"},
        },
        "paths": [["corpus", "decon", "quality", "pdedup"], ["bench", "decon"]],
    }
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(f"{tmp}/c")
        spark.createDataFrame(bench, ["doc_id", "text"]).write.parquet(f"{tmp}/b")
        config["nodes"]["corpus"]["options"]["path"] = f"{tmp}/c"
        config["nodes"]["bench"]["options"]["path"] = f"{tmp}/b"
        p = compile_pipeline(spark, config)
        out = p.dataframes["pdedup"].collect()
        assert [r["doc_id"] for r in out] == [2]
        assert spark.table("decon_report").first()["corpus_id"] == 1


def test_mix_export_pipeline_yaml_end_to_end(spark, tmp_path):
    """The round-7 curation surface is reachable from the YAML entry
    path: normalized dedup -> model quality filter -> domain mix ->
    split -> shuffled shard export, in one config."""
    shards = str(tmp_path / "shards")
    text = textwrap.dedent(
        f"""
        pipeline_name: mix_export
        nodes:
          read:
            class: ParquetReader
            options: {{path: "{SF_SMOKE}/documents.parquet"}}
          dedup:
            class: NormalizedDedup
          quality:
            class: ModelQualityFilter
            options:
              weights: [0.31, -0.12, 0.27, -0.05, 0.18, -0.22, 0.09, 0.14]
              threshold: -1.0
          mix:
            class: DomainMixSample
            options:
              domain_col: lang
              key_col: doc_id
              weights: {{en: 0.4, de: 0.2, fr: 0.2, es: 0.1, zh: 0.1}}
              budget_frac: 0.8
          split:
            class: SplitCorpus
            options:
              key_col: doc_id
              fractions: {{train: 0.8, validation: 0.1, test: 0.1}}
              salt: split
          export:
            class: TrainingShardWriter
            options: {{path: "{shards}", key_col: doc_id, num_shards: 3}}
        paths:
          - [read, dedup, quality, mix, split, export]
        """
    )
    p = load_yaml_pipeline(spark, text)
    counts = run_pipeline(p)
    assert counts["export"] > 0
    back = spark.read.parquet(shards)
    assert set(back.select("shard").distinct().toPandas()["shard"]) <= {0, 1, 2}
    assert "split" in back.columns
    # the export count matches what survived the chain
    assert back.count() == counts["export"]


def test_reference_config_vocabulary_parity(spark, tmp_path, monkeypatch):
    """Reference-shaped configs must load verbatim: source/target edges,
    transform_mapping with '__'-separated function paths, the dict
    secrets_files shape with '{cache}.{key}' tokens, and '__' evaluator
    template variables (jinja identifiers cannot contain dots)."""
    import yaml

    secrets = tmp_path / "s.yml"
    secrets.write_text("password: hunter2\n")
    text = """
nodes:
  src:
    class: ConstantEmitter
    options:
      thing: {user: "{{ os__getcwd }}", pw: mysecrets.password, v: "XY"}
      max_loops: 2
  trim:
    class: SimpleTransforms
    options:
      transform_mapping:
        - path: [v]
          target_function: metalpipe_spark__functions__scalars__lower_str
          return_type: string
edges:
  - {source: src, target: trim}
secrets_files: {mysecrets: """ + str(secrets) + """}
"""
    p = load_yaml_pipeline(spark, text)
    rows = p.terminal_frames()["trim"].collect()
    assert rows and rows[0]["pw"] == "hunter2"      # namespaced secret
    assert rows[0]["v"] == "xy"                     # __-path function ran
    import os as _os

    assert rows[0]["user"] == _os.getcwd()          # __ evaluator template


def test_post_process_without_keypath_fails_loudly(spark):
    from metalpipe_spark.plans.pipeline import compile_pipeline

    config = {
        "nodes": {
            "src": {
                "class": "ConstantEmitter",
                "options": {
                    "thing": {"a": 1},
                    "max_loops": 1,
                    "post_process_function": "metalpipe_spark.functions.scalars.lower_str",
                },
            }
        },
        "paths": [["src"]],
    }
    import pytest

    with pytest.raises(ValueError, match="post_process_keypath"):
        compile_pipeline(spark, config)


def test_max_messages_received_limits_node_output(spark):
    """Reference universal node options (node.py:167,170,445-453):
    max_messages_received bounds what the node CONSUMES — each upstream
    is limited before the node runs (a source node bounds its own
    emission) — and throttle is accepted and ignored (batch Spark has
    no per-message cadence)."""
    config = {
        "nodes": {
            "read": {
                "class": "ParquetReader",
                "options": {
                    "path": f"{SF_SMOKE}/customer.parquet",
                    "max_messages_received": 7,
                    "throttle": 0.5,
                },
            },
            "shape": {
                "class": "Remapper",
                "options": {
                    "mapping": {"id": "c_custkey"},
                    "max_messages_received": 3,
                },
            },
        },
        "paths": [["read", "shape"]],
    }
    p = compile_pipeline(spark, config)
    assert p.dataframes["read"].count() == 7
    assert p.dataframes["shape"].count() == 3
    # the plan is a real Catalyst limit, not a driver-side truncation
    assert "GlobalLimit" in p.dataframes["shape"]._jdf.queryExecution().optimizedPlan().toString()


def test_max_messages_received_bounds_input_of_aggregating_nodes(spark):
    """Review fix (r9): the option is an INPUT bound (reference
    node.py:445-450 stops consuming).  An aggregating node with
    max_messages_received: 3 must aggregate the first 3 consumed
    messages — limiting its OUTPUT instead would return one row
    aggregating ALL inputs, a silently different result."""
    config = {
        "nodes": {
            "read": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "batch": {
                "class": "BatchMessages",
                "options": {
                    "batch_size": 100,
                    "key": "n_nationkey",
                    "max_messages_received": 3,
                },
            },
        },
        "paths": [["read", "batch"]],
    }
    p = compile_pipeline(spark, config)
    out = p.dataframes["batch"].collect()
    assert len(out) == 1  # still ONE batch message...
    assert out[0]["batch_size"] == 3  # ...holding only the 3 consumed rows
    assert len(out[0]["items"]) == 3


def test_max_messages_received_total_bound_multi_upstream(spark):
    """Review fix (r10): with several upstreams the reference stops after
    N TOTAL arrivals (node.py:445-450).  The batch realization is the
    sequential-exhaustion interleaving — never more than N rows total
    reach the node (previously each upstream was allowed N)."""
    config = {
        "nodes": {
            "a": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "b": {
                "class": "ParquetReader",
                "options": {"path": f"{SF_SMOKE}/nation.parquet"},
            },
            "sink": {
                "class": "PrinterOfThings",
                "options": {"max_messages_received": 30},
            },
        },
        "paths": [["a", "sink"], ["b", "sink"]],
    }
    p = compile_pipeline(spark, config)
    # nation has 25 rows: upstream a contributes all 25, b only 5.
    assert p.dataframes["sink"].count() == 30


def test_retrieval_nodes_yaml_end_to_end(spark, tmp_path):
    """BM25Batch + RRFFuse as YAML nodes: a two-retriever fusion DAG
    compiles and fuses ranks with the operator's arithmetic."""
    corpus = spark.createDataFrame(
        [
            (0, "rare common alpha beta"),
            (1, "common alpha beta gamma delta"),
            (2, "rare rare common"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(9, ["rare", "common"])], "query_id long, terms array<string>"
    )
    other = spark.createDataFrame(
        [(9, 1, 1), (9, 0, 2)], "query_id long, doc_id long, rnk long"
    )
    corpus.createOrReplaceTempView("corpus_v")
    queries.createOrReplaceTempView("queries_v")
    other.createOrReplaceTempView("other_v")
    cfg = {
        "pipeline_name": "retrieval_test",
        "nodes": {
            "corpus": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM corpus_v"}},
            "queries": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM queries_v"}},
            "other": {"class": "SQLExecute", "options": {"views": [], "sql": "SELECT * FROM other_v"}},
            "bm25": {"class": "BM25Batch", "options": {"k": 5}},
            "fused": {
                "class": "RRFFuse",
                "options": {"k": 3, "sources": ["bm25", "other"]},
            },
        },
        "paths": [
            ["corpus", "bm25"],
            ["queries", "bm25"],
            ["bm25", "fused"],
            ["other", "fused"],
        ],
    }
    from metalpipe_spark.plans.pipeline import compile_pipeline

    p = compile_pipeline(spark, cfg)
    got = [(r["doc_id"], r["rnk"]) for r in p.dataframes["fused"].orderBy("rnk").collect()]
    assert len(got) == 3 and got[0][1] == 1

    from metalpipe_spark.operators.retrieval import bm25_topk_batch, rrf_fuse

    direct = [
        (r["doc_id"], r["rnk"])
        for r in rrf_fuse(
            {"bm25": bm25_topk_batch(corpus, queries, k=5), "other": other},
            k=3,
        ).orderBy("rnk").collect()
    ]
    assert got == direct


def test_round10_curation_nodes_yaml_end_to_end(spark, tmp_path):
    """BoilerplateRemoval / VocabCoverage / KeepBestDedup /
    LeakageFreeSplit / TokenBudgetSample wired through YAML configs."""
    BANNER = " ".join(f"c{i}" for i in range(32))
    docs = [
        (1, f"{BANNER} alpha beta gamma delta"),
        (2, f"{BANNER} alpha beta other words"),
        (3, f"{BANNER} something else entirely here"),
    ]
    assigns = [(1, 1), (2, 1)]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(f"{tmp_path}/d")
    spark.createDataFrame(assigns, ["doc_id", "cluster_id"]).write.parquet(
        f"{tmp_path}/a"
    )
    config = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "assigns": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/a"}},
            "bp": {"class": "BoilerplateRemoval", "options": {"min_df": 3}},
            "vocab": {"class": "VocabCoverage", "options": {"vocab_size": 4}},
            "keep": {"class": "KeepBestDedup", "options": {"score_col": "doc_id"}},
            "split": {
                "class": "LeakageFreeSplit",
                "options": {"fractions": {"train": 0.5, "test": 0.5}},
            },
        },
        "paths": [
            ["docs", "bp", "vocab"],
            ["docs", "keep"], ["assigns", "keep"],
            ["docs", "split"], ["assigns", "split"],
        ],
    }
    p = compile_pipeline(spark, config)
    bp = {r["doc_id"]: r["text"] for r in p.dataframes["bp"].collect()}
    assert all(BANNER not in t for t in bp.values())  # banner stripped everywhere
    cov = {r["doc_id"]: r for r in p.dataframes["vocab"].collect()}
    assert set(cov) == {1, 2, 3} and all(0 <= r["oov_rate"] <= 1 for r in cov.values())
    kept = sorted(r["doc_id"] for r in p.dataframes["keep"].collect())
    assert kept == [2, 3]  # cluster {1,2}: score=doc_id -> 2 wins; 3 isolated
    split = {r["doc_id"]: r["split"] for r in p.dataframes["split"].collect()}
    assert split[1] == split[2]  # same cluster, same split


def test_token_budget_sample_node_yaml(spark, tmp_path):
    rows = [(i, f"{i:03d}", 10) for i in range(6)]
    spark.createDataFrame(rows, ["doc_id", "ord", "w"]).write.parquet(
        f"{tmp_path}/t"
    )
    config = {
        "nodes": {
            "src": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/t"}},
            "cut": {
                "class": "TokenBudgetSample",
                "options": {"weight_col": "w", "order_col": "ord", "budget": 25},
            },
        },
        "paths": [["src", "cut"]],
    }
    p = compile_pipeline(spark, config)
    assert sorted(r["doc_id"] for r in p.dataframes["cut"].collect()) == [0, 1]


def test_arpa_reader_ngram_logprob_yaml(spark, tmp_path):
    """ArpaReader -> NgramLogprob wired through YAML: KenLM .arpa drops
    into the perplexity filter as a second upstream."""
    arpa = tmp_path / "m.arpa"
    arpa.write_text(
        "\\data\\\nngram 1=2\nngram 2=1\n\n"
        "\\1-grams:\n-1.0\thello\t-0.3\n-1.2\tworld\n\n"
        "\\2-grams:\n-0.25\thello world\n\n\\end\\\n"
    )
    spark.createDataFrame(
        [(1, "hello world hello world"), (2, "xx yy")], ["doc_id", "text"]
    ).write.parquet(f"{tmp_path}/d")
    config = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "order": 2}},
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["doc_id"]: r["mean_logprob"] for r in p.dataframes["ppl"].collect()}
    # doc 1: grams [hw, wh, hw] -> (-0.25 + -8.0 + -0.25)/3; doc 2: 1 OOV gram
    assert abs(got[1] - (-8.5 / 3)) < 1e-9
    assert abs(got[2] - (-8.0)) < 1e-9

    # backoff: true routes the SAME wiring through the backoff scorer:
    # the unseen "world hello" gram now chains to the unigram
    # (bo("world") is NULL -> weight 1) instead of the flat floor.
    config2 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {
                "class": "NgramLogprob",
                "options": {"n": 2, "backoff": True},
            },
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p2 = compile_pipeline(spark, config2)
    got2 = {r["doc_id"]: r["mean_logprob"] for r in p2.dataframes["ppl"].collect()}
    assert abs(got2[1] - ((-0.25 + -1.0 + -0.25) / 3)) < 1e-9
    assert abs(got2[2] - (-8.0)) < 1e-9  # final word unseen -> floor

    # r17 advice: backoff + order are contradictory (order slices for
    # the FLAT scorer; backoff consumes every order) — refuse loudly
    # instead of silently running different semantics than configured.
    import pytest

    config3 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/d"}},
            "lm": {"class": "ArpaReader", "options": {"path": str(arpa)}},
            "ppl": {
                "class": "NgramLogprob",
                "options": {"n": 2, "backoff": True, "order": 2},
            },
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    with pytest.raises(ValueError, match="flat-path-only"):
        compile_pipeline(spark, config3).dataframes["ppl"].collect()


def test_pivot_pinned_node_yaml(spark, tmp_path):
    spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        ["k", "p", "v"],
    ).write.parquet(f"{tmp_path}/t")
    config = {
        "nodes": {
            "src": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/t"}},
            "wide": {
                "class": "PivotPinned",
                "options": {
                    "group_cols": "k",
                    "pivot_col": "p",
                    "values": ["x", "y"],
                    "agg_col": "v",
                    "out_names": ["sum_x", "sum_y"],
                },
            },
        },
        "paths": [["src", "wide"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["k"]: (r["sum_x"], r["sum_y"]) for r in p.dataframes["wide"].collect()}
    assert got == {"a": (1.0, 2.0), "b": (3.0, None)}


def test_semantic_dedup_node_scaled_path(spark, tmp_path):
    """VERDICT r12 task 1: the YAML SemanticDedup node reaches the
    corpus-scale linear plan (semantic_dedup_scaled) via ``scaled:
    true`` / ``target_cell_size`` — a config-surface user no longer
    falls into the measured-38x fixed-centroid path.  Rows-only pin
    (learned centroids): planted parallel duplicates lose to their
    lower-id originals, originals all survive."""
    import math

    rows = []
    for i in range(120):
        theta = (i * 2.399963) % (2 * math.pi)
        v = [math.cos(theta), math.sin(theta), 0.0, 0.0]
        rows.append((i, v))
        if i % 4 == 0:
            rows.append((1000 + i, [2.0 * x for x in v]))  # cosine 1.0
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).write.parquet(path)
    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": path}},
            "dedup": {
                "class": "SemanticDedup",
                "options": {
                    "scaled": True,
                    "target_cell_size": 30,
                    "threshold": 0.999999,
                    "seed": 7,
                },
            },
        },
        "paths": [["read", "dedup"]],
    }
    kept = {
        r["vec_id"]
        for r in compile_pipeline(spark, config).dataframes["dedup"].collect()
    }
    assert all(i in kept for i in range(120))
    assert all(1000 + i not in kept for i in range(0, 120, 4))
    # target_cell_size alone also routes to the scaled path; mixing the
    # scaled knobs with fixed centroids is a config contradiction.
    config["nodes"]["dedup"]["options"] = {
        "target_cell_size": 30,
        "num_centroids": 8,
    }
    with pytest.raises(ValueError, match="scaled"):
        compile_pipeline(spark, config)
    # An EXPLICIT scaled: false next to a scaled-only knob is rejected,
    # never silently overridden.
    config["nodes"]["dedup"]["options"] = {
        "scaled": False,
        "target_cell_size": 30,
    }
    with pytest.raises(ValueError, match="contradicts"):
        compile_pipeline(spark, config)


def test_neardup_and_decontaminate_nodes_hash_knob(spark, tmp_path):
    """VERDICT r12 task 6: the production-hash knob is reachable from
    the YAML surface — NearDupDedup threads it to minhash_lsh_pairs,
    Decontaminate(method=bloom) to the Bloom mask; the exact method
    hashes nothing and REJECTS the option instead of ignoring it."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = [(0, base), (1, base.replace("today", "tonight")),
              (2, "completely different content about spark shuffles and joins")]
    cpath, bpath = str(tmp_path / "c"), str(tmp_path / "b")
    spark.createDataFrame(corpus, ["doc_id", "text"]).write.parquet(cpath)
    spark.createDataFrame([(100, base)], ["doc_id", "text"]).write.parquet(bpath)

    config = {
        "nodes": {
            "read": {"class": "ParquetReader", "options": {"path": cpath}},
            "dedup": {
                "class": "NearDupDedup",
                "options": {"threshold": 0.5, "hash": "xxhash64"},
            },
        },
        "paths": [["read", "dedup"]],
    }
    kept = {
        r["doc_id"]
        for r in compile_pipeline(spark, config).dataframes["dedup"].collect()
    }
    assert kept == {0, 2}  # near-dup 1 loses to 0 under xxhash64 too

    config = {
        "nodes": {
            "corpus": {"class": "ParquetReader", "options": {"path": cpath}},
            "bench": {"class": "ParquetReader", "options": {"path": bpath}},
            "decon": {
                "class": "Decontaminate",
                "options": {"method": "bloom", "hash": "xxhash64",
                            "min_hits": 3},
            },
        },
        "paths": [["corpus", "decon"], ["bench", "decon"]],
    }
    clean = {
        r["doc_id"]
        for r in compile_pipeline(spark, config).dataframes["decon"].collect()
    }
    assert 0 not in clean and 2 in clean  # the leaked doc is flagged

    config["nodes"]["decon"]["options"] = {"method": "exact", "hash": "xxhash64"}
    with pytest.raises(ValueError, match="hash option only applies"):
        compile_pipeline(spark, config)
    config["nodes"]["decon"]["options"] = {"method": "nope"}
    with pytest.raises(ValueError, match="exact.*bloom"):
        compile_pipeline(spark, config)


def test_lm_train_prune_export_score_yaml(spark, tmp_path):
    """r17: the complete CCNet train half in config — TrainBackoffLM
    (KN smoothing + inline count pruning) -> WriteArpa exports the
    artifact at compile -> the SAME graph scores held-out docs through
    NgramLogprob(backoff) -- and a second pipeline reloads the
    exported ARPA via ArpaReader and scores identically."""
    import os

    from metalpipe_spark.operators.text import (
        ngram_logprob_backoff,
        prune_lm,
        train_backoff_lm,
    )

    spark.createDataFrame(
        [(0, "the cat sat on the mat the cat sat"), (1, "a cat ran on the mat")],
        ["doc_id", "text"],
    ).write.parquet(f"{tmp_path}/train")
    spark.createDataFrame(
        [(7, "the cat sat"), (8, "zz qq")], ["doc_id", "text"]
    ).write.parquet(f"{tmp_path}/score")
    arpa = f"{tmp_path}/model.arpa"
    config = {
        "nodes": {
            "train": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/train"}},
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/score"}},
            "lm": {
                "class": "TrainBackoffLM",
                "options": {
                    "n": 2, "smoothing": "kn", "discount": 0.75,
                    "min_counts": 2,
                },
            },
            "export": {"class": "WriteArpa", "options": {"path": arpa}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "backoff": True}},
        },
        "paths": [["train", "lm", "export"], ["docs", "ppl"], ["export", "ppl"]],
    }
    p = compile_pipeline(spark, config)
    got = {r["doc_id"]: r["mean_logprob"] for r in p.dataframes["ppl"].collect()}
    assert os.path.exists(arpa)
    # operator-level replay of the same chain
    want_lm = prune_lm(
        train_backoff_lm(
            spark.read.parquet(f"{tmp_path}/train"), n=2,
            discount=0.75, smoothing="kn",
        ),
        min_counts=2,
        n=2,
    )
    want = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(
            spark.read.parquet(f"{tmp_path}/score"), want_lm, n=2
        ).collect()
    }
    assert got == want
    # the exported artifact reloads and scores identically
    config2 = {
        "nodes": {
            "docs": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/score"}},
            "lm": {"class": "ArpaReader", "options": {"path": arpa}},
            "ppl": {"class": "NgramLogprob", "options": {"n": 2, "backoff": True}},
        },
        "paths": [["docs", "ppl"], ["lm", "ppl"]],
    }
    p2 = compile_pipeline(spark, config2)
    got2 = {r["doc_id"]: r["mean_logprob"] for r in p2.dataframes["ppl"].collect()}
    assert got2 == got


# -- node classes against their operators --------------------------------------
#
# Every node class is built at least once through compile_pipeline; where a
# direct operator call exists, the node's output must equal that call made
# with the same options.

_DOCS = [
    (1, "the cat sat on the mat and the cat sat on the hat", "en", "web", 0.9),
    (2, "the cat sat on the mat and the cat sat on the hat", "en", "web", 0.4),
    (3, "a dog ran in the park today while the cat sat on the mat", "en", "books", 0.7),
    (4, "le chat noir dort sur le tapis rouge", "fr", "books", 0.2),
    (5, "der schnelle braune fuchs springt", "de", "code", 0.5),
    (6, "a dog ran in the park today", "en", "code", 0.1),
]


def _docs(spark, tmp_path):
    """(ParquetReader node spec, the same table read directly)."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        _DOCS, "doc_id long, text string, lang string, source string, score double"
    ).write.parquet(path)
    return {"class": "ParquetReader", "options": {"path": path}}, spark.read.parquet(path)


def _build(spark, nodes, path):
    return compile_pipeline(spark, {"nodes": nodes, "paths": [path]}).dataframes[path[-1]]


def _assert_same(got, want):
    assert got.columns == want.columns
    if not got.sameSemantics(want):  # the same plan needs no run
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def _node_vs_operator(spark, tmp_path, cls, options, call):
    """Build ``docs -> cls(options)`` and compare with ``call(docs)``."""
    src, df = _docs(spark, tmp_path)
    got = _build(spark, {"docs": src, "n": {"class": cls, "options": options}}, ["docs", "n"])
    _assert_same(got, call(df))


def test_operator_nodes_resolve():
    """Every one-operator node class names an importable operator whose
    leading parameter is the session (a source) or the upstream."""
    import inspect

    from metalpipe_spark.plans.pipeline import NODE_CLASSES, OPERATOR_NODES
    from metalpipe_spark.udf_registry import load_function

    assert len(OPERATOR_NODES) >= 25
    for cls, path in OPERATOR_NODES.items():
        assert cls in NODE_CLASSES
        first = next(iter(inspect.signature(load_function(f"metalpipe_spark.{path}")).parameters))
        assert first in ("spark", "df", "lm", "edges"), (cls, first)


def test_csv_reader_node(spark, tmp_path):
    from metalpipe_spark.sources.readers import csv_reader

    path = tmp_path / "t.csv"
    path.write_text("a,b\n1,x\n2,y\n")
    opts = {"path": str(path), "header": True, "infer_schema": False}
    got = _build(spark, {"r": {"class": "CSVReader", "options": opts}}, ["r"])
    _assert_same(got, csv_reader(spark, **opts))
    assert dict(got.dtypes)["a"] == "string"


def test_local_file_reader_node(spark, tmp_path):
    from metalpipe_spark.sources.readers import local_file_reader

    path = tmp_path / "t.txt"
    path.write_text("hello\nworld\n")
    opts = {"path": str(path), "serialize": True}
    got = _build(spark, {"r": {"class": "LocalFileReader", "options": opts}}, ["r"])
    _assert_same(got, local_file_reader(spark, **opts))
    assert got.count() == 2


def test_warc_reader_node(spark, tmp_path):
    import gzip

    from metalpipe_spark.sources.warc import read_warc
    from tests.test_warc import _record

    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    path = str(tmp_path / "f.warc.gz")
    with gzip.open(path, "wb") as f:
        f.write(_record("warcinfo", "", b"x: y") + _record("response", "http://a/1", http))
    opts = {"path": path, "record_types": ["response", "warcinfo"]}
    got = _build(spark, {"r": {"class": "WARCReader", "options": opts}}, ["r"])
    _assert_same(got, read_warc(spark, path, record_types=("response", "warcinfo")))
    assert got.count() == 2


def test_wet_stream_node(spark, tmp_path):
    import gzip

    from metalpipe_spark.sources.warc import read_wet
    from metalpipe_spark.streaming.streams import run_to_memory
    from tests.test_warc import _record

    watch = tmp_path / "crawl"
    watch.mkdir()
    with gzip.open(str(watch / "seg0.wet.gz"), "wb") as f:
        f.write(_record("warcinfo", "", b"c: t") + _record("conversion", "http://s/0", b"doc"))
    opts = {"directory": str(watch), "glob": "*.wet.gz", "max_files_per_trigger": 1}
    stream = _build(spark, {"w": {"class": "WETStream", "options": opts}}, ["w"])
    assert stream.isStreaming
    _assert_same(run_to_memory(stream, "wet_stream_node", spark), read_wet(spark, str(watch)))


def test_sequence_emitter_node(spark):
    from metalpipe_spark.sources.emitters import sequence_emitter

    opts = {"sequence": [1, 2, 3], "max_sequences": 2}
    got = _build(spark, {"s": {"class": "SequenceEmitter", "options": opts}}, ["s"])
    _assert_same(got, sequence_emitter(spark, **opts))


def test_train_ngram_lm_node(spark, tmp_path):
    from metalpipe_spark.operators.text import train_ngram_lm

    opts = {"n": 2, "k": 0.5, "min_count": 2}
    _node_vs_operator(spark, tmp_path, "TrainNgramLM", opts, lambda df: train_ngram_lm(df, **opts))


def test_prune_lm_node(spark, tmp_path):
    from metalpipe_spark.operators.text import prune_lm

    path = str(tmp_path / "lm")
    spark.createDataFrame(
        [("the", 1, 6, 20, 0.3, -0.52, 0.4, -0.4), ("cat", 1, 3, 20, 0.15, -0.82, 0.5, -0.3),
         ("sat", 1, 2, 20, 0.1, -1.0, 0.0, 0.0), ("the cat", 2, 3, 6, 0.5, -0.3, 0.0, 0.0),
         ("cat sat", 2, 1, 3, 0.33, -0.48, 0.0, 0.0)],
        "ngram string, order int, n_count bigint, ctx_count bigint, prob double, "
        "logprob double, backoff double, log_backoff double",
    ).write.parquet(path)
    nodes = {
        "lm": {"class": "ParquetReader", "options": {"path": path}},
        "pruned": {"class": "PruneLM", "options": {"min_counts": 2, "n": 2}},
    }
    got = _build(spark, nodes, ["lm", "pruned"])
    _assert_same(got, prune_lm(spark.read.parquet(path), min_counts=2, n=2))
    assert "cat sat" not in {r.ngram for r in got.collect()}


def test_corpus_report_node_renamed_keys(spark, tmp_path):
    from metalpipe_spark.operators.text import corpus_report

    opts = {"text_column": "text", "id_column": "doc_id", "lang_column": "lang",
            "source_column": None, "exact_distinct": False}
    _node_vs_operator(
        spark, tmp_path, "CorpusReport", opts,
        lambda df: corpus_report(df, text_col="text", id_col="doc_id", lang_col="lang",
                                 source_col=None, exact_distinct=False),
    )


def test_bm25_topk_node_renamed_keys(spark, tmp_path):
    from metalpipe_spark.operators.text import bm25_topk

    opts = {"terms": ["cat", "dog"], "k": 2, "text_column": "text", "k1": 1.5}
    _node_vs_operator(
        spark, tmp_path, "BM25TopK", opts,
        lambda df: bm25_topk(df, ["cat", "dog"], k=2, text_col="text", k1=1.5),
    )


def test_detect_language_model_node(spark, tmp_path):
    from metalpipe_spark.operators.langid import detect_language_model

    opts = {"text_key": "text", "output_key": "lp"}
    _node_vs_operator(
        spark, tmp_path, "DetectLanguageModel", opts,
        lambda df: df.withColumn("lp", detect_language_model("text")),
    )


def test_exact_substr_dedup_node(spark, tmp_path):
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    opts = {"min_length": 16, "hash": "xxhash64"}
    _node_vs_operator(
        spark, tmp_path, "ExactSubstrDedup", opts, lambda df: exact_substr_dedup(df, **opts)
    )


def test_incremental_exact_substr_node(spark, tmp_path):
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    src, df = _docs(spark, tmp_path)
    opts = {"min_length": 16, "store_view": "xs_store_node"}
    got = _build(spark, {"docs": src, "xs": {"class": "IncrementalExactSubstr",
                                             "options": opts}}, ["docs", "xs"])
    clean, store = incremental_exact_substr(df, None, min_length=16)
    _assert_same(got, clean)
    _assert_same(spark.table("xs_store_node"), store)


def test_incremental_embed_node(spark, tmp_path):
    from metalpipe_spark.operators.inference import incremental_embed

    src, df = _docs(spark, tmp_path)
    opts = {"model": "hashed-projection:8", "output_col": "vec", "fresh_view": "emb_fresh_node"}
    got = _build(spark, {"docs": src, "emb": {"class": "IncrementalEmbed",
                                              "options": opts}}, ["docs", "emb"])
    fresh, updated = incremental_embed(df, None, model="hashed-projection:8", output_col="vec")
    _assert_same(got, updated)
    _assert_same(spark.table("emb_fresh_node"), fresh)


def test_curriculum_order_node(spark, tmp_path, monkeypatch):
    import functools

    import metalpipe_spark.operators.curation as curation

    # curriculum_order materializes its prefix sums while it builds, so
    # one build is checked through a pass-through spy instead of two runs.
    real, seen = curation.curriculum_order, []

    @functools.wraps(real)
    def spy(df, **kwargs):
        seen.append(kwargs)
        return real(df, **kwargs)

    monkeypatch.setattr(curation, "curriculum_order", spy)
    opts = {"score_col": "score", "key_col": "doc_id", "n_buckets": 2, "seed": 3,
            "ascending": False, "bucket_col": "band"}
    src, _ = _docs(spark, tmp_path)
    got = _build(spark, {"docs": src, "n": {"class": "CurriculumOrder", "options": opts}},
                 ["docs", "n"])
    assert seen == [opts]
    rows = sorted(got.collect(), key=lambda r: r.train_pos)
    assert [r.train_pos for r in rows] == list(range(len(_DOCS)))
    assert [r.band for r in rows] == [0, 0, 0, 1, 1, 1]
    assert rows[0].score >= rows[-1].score  # descending: best first


def test_temperature_epochs_node(spark, tmp_path):
    from metalpipe_spark.operators.curation import temperature_resample_epochs

    opts = {"domain_col": "source", "key_col": "doc_id", "alpha": 0.5, "budget_rows": 9}
    _node_vs_operator(
        spark, tmp_path, "TemperatureEpochs", opts,
        lambda df: temperature_resample_epochs(df, **opts),
    )


def test_global_shuffle_node(spark, tmp_path):
    from metalpipe_spark.operators.curation import global_shuffle

    opts = {"key_col": "doc_id", "seed": 7, "num_partitions": 2}
    _node_vs_operator(
        spark, tmp_path, "GlobalShuffle", opts, lambda df: global_shuffle(df, **opts)
    )


def test_parquet_writer_node(spark, tmp_path):
    src, df = _docs(spark, tmp_path)
    out = str(tmp_path / "out")
    opts = {"path": out, "mode": "overwrite", "partition_by": ["lang"]}
    got = _build(spark, {"docs": src, "w": {"class": "ParquetWriter", "options": opts}},
                 ["docs", "w"])
    _assert_same(got, df)  # forwards its upstream
    _assert_same(spark.read.parquet(out).select(*df.columns), df)
    assert {d for d in os.listdir(out) if d.startswith("lang=")} == {
        "lang=de", "lang=en", "lang=fr"
    }


def test_unknown_option_raises_naming_node_and_key(spark, tmp_path):
    """A typo'd option is an error, not a silent default."""
    src, _ = _docs(spark, tmp_path)
    for opts, key in (({"min_lenght": 16}, "min_lenght"), ({"_rk": 1}, "_rk")):
        nodes = {"docs": src, "xs": {"class": "ExactSubstrDedup", "options": opts}}
        with pytest.raises(ValueError, match=rf"node 'xs'.*ExactSubstrDedup.*{key}"):
            compile_pipeline(spark, {"nodes": nodes, "paths": [["docs", "xs"]]})
    nodes = {"r": {"class": "Remapper", "options": {}}, "c": {"class": "CounterOfThings"}}
    with pytest.raises(ValueError, match="node 'r'.*mapping"):
        compile_pipeline(spark, {"nodes": nodes, "paths": [["c", "r"]]})


class _Stop(Exception):
    pass


def _spy(monkeypatch, module, name):
    """Replace ``module.name`` with a same-signature spy that records its
    keyword arguments and stops the build."""
    import functools

    real = getattr(module, name)
    calls = []

    @functools.wraps(real)
    def spy(*args, **kwargs):
        calls.append(kwargs)
        raise _Stop

    monkeypatch.setattr(module, name, spy)
    return calls


def test_yaml_defaults_that_differ_from_the_operator(spark, tmp_path, monkeypatch):
    """Four YAML defaults deliberately differ from the operator they
    wrap; changing either side changes pipeline outputs."""
    import inspect

    import metalpipe_spark.operators.dedup as dedup
    import metalpipe_spark.operators.text as text
    import metalpipe_spark.plans.pipeline as pipeline

    def default(fn, name):
        return inspect.signature(fn).parameters[name].default

    src, _ = _docs(spark, tmp_path)

    def build(cls, opts, upstreams=("docs",)):
        nodes = {"docs": src, "other": src, "n": {"class": cls, "options": opts}}
        edges = [[u, "n"] for u in upstreams]
        with pytest.raises(_Stop):
            compile_pipeline(spark, {"nodes": nodes, "edges": edges})

    # NearDupDedup bands: 8 in YAML, 4 in minhash_lsh_pairs
    assert default(dedup.minhash_lsh_pairs, "bands") == 4
    calls = _spy(monkeypatch, dedup, "minhash_lsh_pairs")
    build("NearDupDedup", {})
    assert calls[-1]["bands"] == 8
    # Join broadcast: off in YAML, broadcast_dim on in enrich_join
    assert default(pipeline.enrich_join, "broadcast_dim") is True
    calls = _spy(monkeypatch, pipeline, "enrich_join")
    build("Join", {"on": "doc_id"}, upstreams=("docs", "other"))
    assert calls[-1]["broadcast_dim"] is False
    # TrainBackoffLM prunes at the trained n=3; prune_lm's own n is None
    assert default(text.prune_lm, "n") is None
    calls = _spy(monkeypatch, text, "prune_lm")
    build("TrainBackoffLM", {"min_counts": 2})
    assert calls[-1]["n"] == 3
    # CSVToDictionaryList infer_schema: off in YAML, on in csv_reader
    assert default(pipeline.csv_reader, "infer_schema") is True
    calls = _spy(monkeypatch, pipeline, "csv_reader")
    build("CSVToDictionaryList", {"path": str(tmp_path / "x.csv")}, upstreams=())
    assert calls[-1]["infer_schema"] is False
