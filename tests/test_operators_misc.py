"""Unit tests for operators not covered by catalog oracles: type
probing, keypath utilities, scalar functions, emitters (the reference's
tests/test_util.py surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metalpipe_spark.functions.scalars import (
    convert_date_format,
    milliseconds_epoch_to_datetime,
    now_milliseconds,
    package,
    timestamp_to_redshift,
    to_bool,
    unpackage,
)
from metalpipe_spark.keypath import aggregate_values, replace_by_path
from metalpipe_spark.operators.aggregate import infer_string_types
from metalpipe_spark.sources.emitters import (
    constant_emitter,
    counter_of_things,
    sequence_emitter,
)


def test_infer_string_types(spark):
    df = spark.createDataFrame(
        [("1", "1.5", "2024-01-01 00:00:00", "abc")],
        ["ints", "floats", "dates", "strings"],
    )
    out = {r["column_name"]: r for r in infer_string_types(df).collect()}
    assert out["ints"]["castable_int"] and out["ints"]["castable_float"]
    assert not out["floats"]["castable_int"] and out["floats"]["castable_float"]
    assert out["dates"]["castable_datetime"]
    assert not out["strings"]["castable_int"]
    assert not out["strings"]["castable_float"]


def test_to_bool_reference_semantics(spark):
    """helpers.py:92-102: strings true iff first char t/y; numerics > 0."""
    df = spark.createDataFrame(
        [("yes",), ("Y",), ("true",), ("no",), ("0",), ("2",), ("-1",)], ["v"]
    )
    got = [r[0] for r in df.select(to_bool("v")).collect()]
    assert got == [True, True, True, False, False, True, False]


def test_package_unpackage_roundtrip(spark):
    df = spark.createDataFrame([("hello",)], ["v"])
    out = df.select(unpackage(package("v")).cast("string").alias("v")).head()
    assert out["v"] == "hello"


def test_redshift_format(spark):
    df = spark.createDataFrame([("2024-01-05 13:00:00",)], ["s"]).select(
        F.col("s").cast("timestamp").alias("ts")
    )
    assert df.select(timestamp_to_redshift("ts")).head()[0] == "Jan 05,2024  13:00:00"


def test_convert_date_format_strftime(spark):
    df = spark.createDataFrame([("05/01/2024",)], ["s"])
    out = df.select(convert_date_format("s", "%d/%m/%Y", "%Y-%m-%d")).head()[0]
    assert out == "2024-01-05"


def test_epoch_helpers(spark):
    df = spark.createDataFrame([(1704067200000,)], ["ms"])
    ts = df.select(milliseconds_epoch_to_datetime("ms").alias("t")).head()["t"]
    assert ts.year == 2024 and ts.month == 1 and ts.day == 1
    assert spark.range(1).select(now_milliseconds()).head()[0] > 1704067200000


def test_replace_by_path_tail_matching(spark):
    """helpers.py:309-331: the function applies at EVERY path whose
    suffix matches, including under arrays."""
    df = spark.createDataFrame(
        [(1, {"price": 10.0, "nested": {"price": 20.0}},
          [{"price": 30.0, "qty": 1}])],
        "id int, obj struct<price double, nested struct<price double>>, "
        "items array<struct<price double, qty int>>",
    )
    out = replace_by_path(df, "price", lambda c: c * 2)
    row = out.head()
    assert row["obj"]["price"] == 20.0
    assert row["obj"]["nested"]["price"] == 40.0
    assert row["items"][0]["price"] == 60.0
    assert row["items"][0]["qty"] == 1  # siblings retained


def test_aggregate_values_collects_all_matches(spark):
    df = spark.createDataFrame(
        [(1, {"price": 10.0, "nested": {"price": 20.0}})],
        "id int, obj struct<price double, nested struct<price double>>",
    )
    vals = df.select(aggregate_values(df, "price").alias("v")).head()["v"]
    assert sorted(vals) == [10.0, 20.0]


def test_emitters(spark):
    assert counter_of_things(spark, 2, 5).count() == 3
    ce = constant_emitter(spark, {"a": 1, "b": "x"}, max_loops=4)
    assert ce.count() == 4 and ce.columns == ["a", "b"]
    se = sequence_emitter(spark, [{"int": "3"}, {"str": "x"}, {"bool": "yes"}], 2)
    rows = se.collect()
    assert len(rows) == 6
    vals = {str(r["value"]) for r in rows}
    assert vals == {"3", "x", "true"}  # mixed types coerce to string


def test_as_of_join_edges(spark):
    """Backward as-of semantics: ties match, later rights don't, keys
    with no prior right row get NULLs."""
    from metalpipe_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], ["k", "ts"]
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (1, 25, "c"), (2, 9, "d")], ["k", "ts", "v"]
    )
    out = {
        (r["k"], r["ts"]): (r["asof_ts"], r["asof_v"])
        for r in as_of_join(left, right, on="k").collect()
    }
    assert out[(1, 10)] == (10, "a")  # tie: right at same ts matches
    assert out[(1, 20)] == (15, "b")  # latest at-or-before, not the later 25
    assert out[(2, 5)] == (None, None)  # no right row yet -> left-join NULLs


def test_jaccard_hot_shingle_cap(spark):
    """max_doc_frequency drops ubiquitous shingles from candidate
    generation: pairs meeting only through the hot shingle disappear,
    pairs sharing rare shingles are unchanged (exact Jaccard)."""
    from metalpipe_spark.operators.dedup import jaccard_candidate_pairs

    boiler = "all rights reserved legal notice"  # 3 shingles, in every doc
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta {boiler}"),
            (2, f"alpha beta gamma epsilon {boiler}"),
            (3, f"zeta eta theta iota {boiler}"),
        ],
        ["doc_id", "text"],
    )
    uncapped = {
        (r["d1"], r["d2"]): r["inter"]
        for r in jaccard_candidate_pairs(docs, threshold=0.01).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["inter"]
        for r in jaccard_candidate_pairs(
            docs, threshold=0.01, max_doc_frequency=2
        ).collect()
    }
    # Uncapped: every pair meets through the boilerplate shingles.
    assert set(uncapped) == {(1, 2), (1, 3), (2, 3)}
    # Capped: (1,3) and (2,3) met ONLY through boilerplate -> gone;
    # (1,2) still shares rare shingles ("alpha beta gamma", ...).
    assert set(capped) == {(1, 2)}
    # The surviving pair's intersection excludes capped shingles.
    assert capped[(1, 2)] < uncapped[(1, 2)]


def test_detect_language_char_markers(spark):
    """Unsegmented scripts (zh) score by matching-char ratio — whitespace
    marker words can never fire on them.  NOTE the driver corpus contains
    zero Han characters (its ``lang`` column is a synthetic label over a
    shared English-ish vocabulary), so this capability is provable only
    here, on real Chinese text."""
    from metalpipe_spark.operators.text import detect_language

    df = spark.createDataFrame(
        [
            (1, "今天天气很好我们去公园散步"),  # pure Chinese, no spaces
            (2, "机器学习 spark 大规模 数据 处理"),  # mixed, majority Han
            (3, "the quick brown fox is a dog"),
            (4, "der hund ist und die katze"),
            (5, "xqz kjv wpl"),  # no markers at all
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", detect_language("text").alias("lang")).collect()}
    assert got == {1: "zh", 2: "zh", 3: "en", 4: "de", 5: "unk"}


def test_jaccard_cap_threshold_unbiased(spark):
    """With the cap active, the reported jaccard is the EXACT Jaccard of
    the surviving-shingle sets — a near-dup pair that also shares capped
    boilerplate passes at the stated threshold (the old all-shingle
    denominators made the effective threshold silently stricter)."""
    from metalpipe_spark.operators.dedup import jaccard_candidate_pairs

    boiler = "all rights reserved legal notice"
    texts = {
        1: f"alpha beta gamma delta {boiler}",
        2: f"alpha beta gamma epsilon {boiler}",
        3: f"zeta eta theta iota {boiler}",
        4: f"kappa lam mu nu {boiler}",
    }
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    cap = 2

    # Pure-Python oracle over the same 3-gram shingling.
    def sh(t):
        toks = t.split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {d: sh(t) for d, t in texts.items()}
    hot = {s for s in set.union(*sets.values()) if sum(s in v for v in sets.values()) > cap}
    surv = {d: v - hot for d, v in sets.items()}
    exact12 = len(surv[1] & surv[2]) / len(surv[1] | surv[2])

    got = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in jaccard_candidate_pairs(
            docs, threshold=exact12 - 1e-9, max_doc_frequency=cap
        ).collect()
    }
    # (1,2) passes AT its exact filtered Jaccard — no hidden tightening —
    # and the value matches the set-arithmetic oracle.
    assert (1, 2) in got
    assert abs(got[(1, 2)] - exact12) < 1e-12
    # Sanity: the old biased denominator (all shingles) would have failed
    # this threshold.
    biased12 = len(surv[1] & surv[2]) / (
        len(sets[1]) + len(sets[2]) - len(surv[1] & surv[2])
    )
    assert biased12 < exact12 - 1e-9


def test_jaccard_cap_noop_on_rare_shingles(spark):
    """A cap above every shingle's doc-frequency must not change results."""
    from metalpipe_spark.operators.dedup import jaccard_candidate_pairs

    docs = spark.createDataFrame(
        [
            (1, "red green blue yellow purple"),
            (2, "red green blue orange black"),
            (3, "one two three four five"),
        ],
        ["doc_id", "text"],
    )
    base = sorted(map(tuple, jaccard_candidate_pairs(docs, threshold=0.01).collect()))
    capped = sorted(
        map(
            tuple,
            jaccard_candidate_pairs(
                docs, threshold=0.01, max_doc_frequency=10
            ).collect(),
        )
    )
    assert base == capped and len(base) == 1


def _uf_components(n_nodes, edges):
    """Pure-Python union-find reference: node -> min id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark):
    import random

    from metalpipe_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = list(
        {
            (rng.randrange(60), rng.randrange(60))
            for _ in range(45)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    want = _uf_components(60, edges)
    df = spark.createDataFrame(edges, ["d1", "d2"])
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got == want


def test_connected_components_long_chain_converges_fast(spark):
    """A 64-node path graph has diameter 63: min-label propagation would
    need ~63 rounds, large-star/small-star must finish within the
    default 25 (O(log n))."""
    from metalpipe_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    got = connected_components(df, max_iterations=12, driver_max_edges=0).collect()
    assert len(got) == 64
    assert {r["cluster_id"] for r in got} == {0}


def test_connected_components_empty_pairs(spark):
    from metalpipe_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "d1 long, d2 long")
    assert connected_components(df).count() == 0


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    """With checkpoint_dir set, rounds write reliable checkpoint files
    (executor-loss-safe at cluster scale) and the result is unchanged."""
    import os

    from metalpipe_spark.operators.dedup import connected_components

    ckdir = str(tmp_path / "cc_ckpt")
    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            df, checkpoint_dir=ckdir, driver_max_edges=0
        ).collect()
    }
    assert got == {i: 0 for i in range(64)}
    # at least one round actually hit the reliable dir
    found = [
        name
        for _, dirs, _ in os.walk(ckdir)
        for name in dirs
        if name.startswith("rdd-")
    ]
    assert found, "no rdd-* checkpoint directories written"


def test_connected_components_frees_prior_round_blocks(spark):
    """localCheckpoint mode must not pin every round's edge set: after a
    multi-round run at most TWO new persistent RDDs may remain — the
    final round the result DataFrame is built on, plus the checkpointed
    raw pair list the self-only branch reads (both edge-sized, both
    part of the returned frame's lineage; intermediate rounds must all
    be freed)."""
    from metalpipe_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    chain = [(i, i + 1) for i in range(63)]  # needs several rounds
    df = spark.createDataFrame(chain, ["d1", "d2"])
    connected_components(df, driver_max_edges=0).collect()
    after = set(sc._jsc.getPersistentRDDs().keySet())
    assert len(after - before) <= 2


def test_dedup_corpus_keeps_canonical_and_isolated(spark):
    from metalpipe_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"]
    )
    # clusters {1,3,5} and {2,6}; 0,4,7 isolated
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["d1", "d2"]
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, pairs).collect())
    assert kept == [0, 1, 2, 4, 7]


def test_pii_detect_and_redact_all_types(spark):
    from metalpipe_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@mail.co card 4111 1111 1111 1234 "
                "phone 555-123-4567 ssn 123-45-6789 ip 192.168.0.1"),
            (2, "clean text with number 12345"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in scrub_pii(df, "text").collect()}
    r1 = rows[1]
    assert (r1["pii_email"], r1["pii_credit_card"], r1["pii_phone"],
            r1["pii_ssn"], r1["pii_ipv4"]) == (1, 1, 1, 1, 1)
    assert r1["text"] == (
        "mail <EMAIL> card <CREDIT_CARD> phone <PHONE> ssn <SSN> ip <IPV4>"
    )
    r2 = rows[2]
    assert r2["text"] == "clean text with number 12345"
    assert r2["pii_email"] == 0 and r2["pii_ipv4"] == 0


def test_chunk_documents_overlap_and_tail_rule(spark):
    from metalpipe_spark.operators.text import chunk_documents

    mk = lambda n: " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, mk(10)), (2, mk(64)), (3, mk(65)), (4, mk(130))],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, chunk_tokens=64, overlap=16)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"]) for r in out.collect()
    )
    # doc 1: single short chunk; doc 2: exactly one window (start 49
    # contributes nothing new); doc 3: second window adds token 65;
    # doc 4: starts 1, 49, 97.
    assert rows == [
        (1, 0, 10),
        (2, 0, 64),
        (3, 0, 64), (3, 1, 17),
        (4, 0, 64), (4, 1, 64), (4, 2, 34),
    ]
    r = out.where("doc_id = 3 AND chunk_id = 1").first()
    assert r["chunk_text"].startswith("w48 ") and r["chunk_text"].endswith(" w64")


def test_incremental_dedup_batches_equal_full_dedup(spark):
    """Feeding id-ordered batches through the incremental path must keep
    exactly the docs full-corpus exact_dedup keeps."""
    from metalpipe_spark.operators.dedup import exact_dedup, incremental_exact_dedup

    texts = ["alpha beta", "gamma", "alpha beta", "delta", "gamma", "eps"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    store = None
    kept = []
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        batch = docs.where(f"doc_id >= {lo} AND doc_id < {hi}")
        fresh, store = incremental_exact_dedup(batch, store)
        kept += [r["doc_id"] for r in fresh.collect()]
        store = store.localCheckpoint(eager=True)  # as a real pipeline would persist it
    want = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert sorted(kept) == want == [0, 1, 3, 5]


def test_pack_shards_partition_invariant(spark):
    """shard_id depends only on the global prefix sum: any partition
    count must give identical assignments, and every shard except the
    last must end only once its budget is crossed."""
    import random

    from metalpipe_spark.operators.curation import pack_shards

    rng = random.Random(11)
    rows = [(i, rng.randrange(1, 40)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    base = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(df, "w", "doc_id", 100, num_partitions=3).collect()
    }
    alt = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(
            df.repartition(17), "w", "doc_id", 100, num_partitions=7
        ).collect()
    }
    assert base == alt
    # reference: plain python prefix sum
    prefix, want = 0, {}
    for i, w in rows:
        want[i] = prefix // 100
        prefix += w
    assert base == want


def test_length_quantiles_approx_close_to_exact(spark):
    from metalpipe_spark.operators.text import length_quantiles

    docs = spark.createDataFrame(
        [(i, "w " * (i % 50 + 1), "en") for i in range(300)],
        ["doc_id", "text", "lang"],
    )
    exact = length_quantiles(docs).first()
    approx = length_quantiles(docs, approx=True).first()
    for c in ("p5", "p9", "p99"):
        assert abs(float(exact[c]) - float(approx[c])) <= 2.0, c


def test_connected_components_iteration_guard(spark):
    from metalpipe_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1, driver_max_edges=0)


def test_simhash_preserves_null_text_rows(spark):
    """Null-text docs must still get a fingerprint row (explode of a null
    array emits nothing, so the text column is coalesced to '' first) and
    fingerprint identically to empty-text docs."""
    from metalpipe_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == got[3]


def test_simhash_neardup_pigeonhole_guarantee(spark):
    """Within max_hamming, banding must have perfect recall (pigeonhole):
    compare banded pairs against the brute-force hamming join on a
    corpus with planted near-dups."""
    from metalpipe_spark.operators.dedup import simhash, simhash_neardup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" extra{i}") for i in range(20)]
    rows += [(100 + i, base) for i in range(3)]  # identical -> hamming 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    fp = simhash(docs, bits=60)
    a, b = fp.alias("a"), fp.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .where("hamming <= 3")
    )
    want = {(r["d1"], r["d2"]): r["hamming"] for r in brute.collect()}
    assert got == want
    assert got[(100, 101)] == 0  # planted identical docs found


def test_chunk_level_dedup_planted_passages(spark):
    from metalpipe_spark.operators.dedup import chunk_level_dedup

    A = " ".join(f"a{i}" for i in range(32))
    B = " ".join(f"b{i}" for i in range(32))
    C = " ".join(f"c{i}" for i in range(5))
    docs = spark.createDataFrame(
        [(1, f"{A} {B}"), (2, f"{A} {C}"), (3, f"{A}")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in chunk_level_dedup(docs, chunk_tokens=32).collect()}
    assert out[1] == f"{A} {B}"      # first occurrence keeps everything
    assert out[2] == C               # shared passage A stripped
    assert 3 not in out              # reduced to nothing -> dropped


def test_boilerplate_removal_planted_banner(spark):
    from metalpipe_spark.operators.dedup import boilerplate_chunk_removal

    BANNER = " ".join(f"cookie{i}" for i in range(32))  # in 3 docs
    DUP = " ".join(f"dup{i}" for i in range(32))        # in 2 docs
    U1 = " ".join(f"u{i}" for i in range(7))
    docs = spark.createDataFrame(
        [
            (1, f"{BANNER} {U1}"),
            (2, f"{BANNER} {DUP}"),
            (3, f"{DUP} {BANNER}"),
            (4, BANNER),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in boilerplate_chunk_removal(docs, chunk_tokens=32, min_df=3).collect()
    }
    # banner (df=3) stripped EVERYWHERE, incl. its first occurrence;
    # DUP (df=2) kept in both docs — below the bar, dedup's job not ours
    assert out[1] == U1
    assert out[2] == DUP
    assert out[3] == DUP
    assert 4 not in out  # banner-only doc reduced to nothing -> dropped


def test_boilerplate_removal_null_text_behaves_as_empty(spark):
    """NULL text follows the repo's NULL-text contract (behaves as
    empty): the doc survives as an empty-token chunk instead of being
    silently dropped by a NULL-md5 inner join — mirroring the oracle's
    coalesce."""
    from metalpipe_spark.operators.dedup import boilerplate_chunk_removal

    U1 = " ".join(f"u{i}" for i in range(7))
    docs = spark.createDataFrame(
        [(1, U1), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in boilerplate_chunk_removal(docs, chunk_tokens=32, min_df=3).collect()
    }
    assert out[1] == U1
    assert out[2] == ""  # NULL text kept, as empty
    assert out[3] == ""


def test_dedup_keep_best_score_and_ties(spark):
    from metalpipe_spark.operators.dedup import dedup_corpus_keep_best

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, None), (5, 7.0), (9, 1.0)],
        ["doc_id", "score"],
    )
    assignments = spark.createDataFrame(
        # cluster A = {1,2,3}: max score ties 2/3 -> lowest id 2 wins
        # cluster B = {4,5}: NULL score loses to any real score -> 5 wins
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        ["doc_id", "cluster_id"],
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_corpus_keep_best(docs, assignments, "score").collect()
    )
    assert kept == [2, 5, 9]  # 9 unclustered -> passes through


def test_dedup_keep_best_string_ids_deterministic_ties(spark):
    """String ids (UUID-style) keep the documented lowest-id tie-break:
    the survivor struct never negates the id, so no silent
    cast-to-double NULL (non-ANSI) or runtime error (ANSI)."""
    import pytest

    from metalpipe_spark.operators.dedup import dedup_corpus_keep_best

    docs = spark.createDataFrame(
        [("doc-b", 5.0), ("doc-a", 5.0), ("doc-c", 5.0),
         ("doc-z", None), ("doc-y", None), ("solo", 0.1)],
        ["doc_id", "score"],
    )
    assignments = spark.createDataFrame(
        # all-tied scores -> lexicographically lowest id survives;
        # all-NULL cluster -> still deterministic lowest id
        [("doc-a", "c1"), ("doc-b", "c1"), ("doc-c", "c1"),
         ("doc-z", "c2"), ("doc-y", "c2")],
        ["doc_id", "cluster_id"],
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_corpus_keep_best(docs, assignments, "score").collect()
    )
    assert kept == ["doc-a", "doc-y", "solo"]

    with pytest.raises(ValueError, match="must be numeric"):
        dedup_corpus_keep_best(
            docs.withColumn("score", F.col("score").cast("string")),
            assignments,
            "score",
        )


def test_leakage_free_split_cluster_colocated(spark):
    from metalpipe_spark.operators.curation import leakage_free_split

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    assignments = spark.createDataFrame(
        [(i, (i // 4) * 4) for i in range(120)],  # 30 clusters of 4
        ["doc_id", "cluster_id"],
    )
    out = leakage_free_split(
        docs, assignments, {"train": 0.8, "validation": 0.1, "test": 0.1}
    ).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert len(by_id) == 200 and set(by_id.values()) <= {"train", "validation", "test"}
    for i in range(120):
        assert by_id[i] == by_id[(i // 4) * 4]  # whole cluster, one split
    # and the split actually uses more than one bucket overall
    assert len(set(by_id.values())) > 1


def test_token_budget_sample_document_atomic(spark):
    from metalpipe_spark.operators.curation import token_budget_sample

    rows = [(i, f"{i:04d}", 10) for i in range(10)]  # ordered 0..9, 10 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "ord", "w"])
    kept = sorted(
        r["doc_id"] for r in token_budget_sample(df, "w", "ord", 35).collect()
    )
    assert kept == [0, 1, 2]  # 30 fits; doc 3 would overflow 35 -> cut
    none = token_budget_sample(df, "w", "ord", 9).collect()
    assert none == []  # first doc already overflows


def test_repetition_signals_planted_values(spark):
    from metalpipe_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: 5 total, 2 distinct
            (2, "w x y z"),            # no repetition
            (3, "hello"),              # single token: no n-grams
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["dup_bigram_frac"] == (5 - 2) / 5
    assert out[1]["dup_trigram_frac"] == (4 - 2) / 4
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["dup_bigram_frac"] == 0.0 and out[3]["dup_trigram_frac"] == 0.0
    assert out[2]["mean_word_len"] == 1.0
    assert out[3]["symbol_ratio"] == 0.0


def test_decontaminate_clean_and_report(spark):
    from metalpipe_spark.operators.dedup import decontaminate

    leak = "the quick brown fox jumps over the lazy dog today"
    corpus = spark.createDataFrame(
        [(1, leak + " plus corpus tail"), (2, "totally unrelated text here now")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, leak)], ["doc_id", "text"])
    clean, report = decontaminate(corpus, bench, min_shared=3)
    assert [r["doc_id"] for r in clean.collect()] == [2]
    rep = report.collect()
    assert len(rep) == 1 and rep[0]["corpus_id"] == 1
    assert rep[0]["benchmark_id"] == 100 and rep[0]["shared_shingles"] >= 3


def test_incremental_neardup_matches_batch_lsh(spark):
    """Sequential batches through the incremental near-dup path keep
    exactly the docs the full-corpus LSH + connected-components dedup
    keeps (batches arrive in id order, so canonical mins agree)."""
    from metalpipe_spark.operators.dedup import (
        dedup_corpus,
        incremental_neardup_dedup,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    variant = base.replace("today", "tonight")
    other = "completely different content about distributed query engines and shuffles"
    docs = [(0, base), (1, other), (2, variant), (3, base), (4, other + " extras")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    full_pairs = minhash_lsh_pairs(df).where(F.col("est_jaccard") >= 0.5)
    want = sorted(r["doc_id"] for r in dedup_corpus(df, full_pairs).collect())

    store, kept = None, []
    for lo, hi in ((0, 2), (2, 4), (4, 5)):
        batch = df.where(f"doc_id >= {lo} AND doc_id < {hi}")
        fresh, store = incremental_neardup_dedup(batch, store)
        kept += [r["doc_id"] for r in fresh.collect()]
        store = store.localCheckpoint(eager=True)
    assert sorted(kept) == want


def test_distinctive_terms_stopwords_score_zero(spark):
    """A term present in EVERY doc must score 0 (idf's boundary), so
    rare group-specific terms outrank it."""
    from metalpipe_spark.operators.text import distinctive_terms

    docs = spark.createDataFrame(
        [(i, "en" if i < 5 else "de",
          "the common filler " + ("apfel kuchen" if i >= 5 else "scone tea"))
         for i in range(10)],
        ["doc_id", "lang", "text"],
    )
    out = distinctive_terms(docs, k=3, min_doc_freq=2).collect()
    by = {(r["lang"], r["tok"]): (r["score"], r["rnk"]) for r in out}
    assert by[("de", "apfel")][0] > 0 and by[("en", "scone")][0] > 0
    for (lang, tok), (score, rnk) in by.items():
        if tok in ("the", "common", "filler"):
            assert score == 0.0, (lang, tok)
    assert by[("de", "apfel")][1] <= 2 and by[("en", "scone")][1] <= 2


def test_chunk_level_dedup_rejects_string_ids(spark):
    from metalpipe_spark.operators.dedup import chunk_level_dedup

    docs = spark.createDataFrame([("docA", "hello world")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="integral id"):
        chunk_level_dedup(docs)


def test_chunk_level_dedup_rejects_out_of_range_ids(spark):
    from metalpipe_spark.operators.dedup import chunk_level_dedup

    docs = spark.createDataFrame([(1 << 50, "hello world")], ["doc_id", "text"])
    with pytest.raises(Exception, match="packable range"):
        chunk_level_dedup(docs).collect()


def test_catalog_timestamps_are_tz_aware(spark):
    """Environment-drift canary: newer Spark reads un-annotated parquet
    timestamps as TIMESTAMP_NTZ, which breaks ``unix_millis`` and
    Structured Streaming watermarks.  ``load_table`` must normalize every
    timestamp column to tz-aware TimestampType; if a Spark upgrade changes
    reader behavior again, this one test goes red instead of 13 scattered
    ones."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from metalpipe_spark.sources.readers import TPCH_TABLES, load_table

    for name in TPCH_TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", name)
        for field in df.schema.fields:
            assert "timestamp_ntz" not in field.dataType.simpleString(), (
                name,
                field.name,
                field.dataType,
            )
            if field.dataType.typeName().startswith("timestamp"):
                assert isinstance(field.dataType, TimestampType), (name, field.name)

    # unix_millis smoke over the real events table — the exact call that
    # failed under PySpark 4.1's NTZ read.
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    row = events.select(F.unix_millis("ts").alias("ms")).first()
    assert row["ms"] is not None and row["ms"] > 0


def test_domain_mix_sample_rates_and_cap(spark):
    """rate_d = min(1, budget*w_d/n_d): a domain too small for its
    allocation keeps ALL its rows (cap at 1, honest undershoot); others
    keep a deterministic md5-selected share.  Output is partition-
    invariant and repeatable."""
    import pytest as _pytest

    from metalpipe_spark.operators.curation import domain_mix_sample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, domain string")
    # budget 100, weights 50/50 -> big wants 50 of 400 (rate .125),
    # small wants 50 of 10 -> rate capped at 1, keeps all 10
    out = domain_mix_sample(
        df, "domain", "doc_id", {"big": 0.5, "small": 0.5}, budget_rows=100
    )
    got = {r["doc_id"]: r["domain"] for r in out.collect()}
    n_small = sum(1 for d in got.values() if d == "small")
    n_big = sum(1 for d in got.values() if d == "big")
    assert n_small == 10  # capped domain keeps everything
    assert 25 <= n_big <= 75  # md5-uniform share of rate 0.125*400=50

    # partition invariance + determinism
    again = {
        r["doc_id"]: r["domain"]
        for r in domain_mix_sample(
            df.repartition(7), "domain", "doc_id",
            {"big": 0.5, "small": 0.5}, budget_rows=100,
        ).collect()
    }
    assert again == got

    # domains absent from weights keep nothing
    none_kept = domain_mix_sample(
        df, "domain", "doc_id", {"other": 1.0}, budget_rows=100
    ).count()
    assert none_kept == 0

    with _pytest.raises(ValueError):
        domain_mix_sample(df, "domain", "doc_id", {"big": 1.0})
    with _pytest.raises(ValueError):
        domain_mix_sample(
            df, "domain", "doc_id", {"big": 1.0},
            budget_frac=0.5, budget_rows=10,
        )


def test_global_shuffle_is_permutation_and_partition_invariant(spark):
    from metalpipe_spark.operators.curation import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id int")
    out = {r["doc_id"]: r["pos"] for r in global_shuffle(df, "doc_id").collect()}
    assert sorted(out.values()) == list(range(200))  # exact permutation
    assert list(out.keys()) != sorted(out.keys()) or True
    # order is not the identity (vanishingly unlikely for md5)
    by_pos = [k for k, _ in sorted(out.items(), key=lambda kv: kv[1])]
    assert by_pos != sorted(by_pos)

    # partition-invariant and deterministic
    again = {
        r["doc_id"]: r["pos"]
        for r in global_shuffle(df.repartition(7), "doc_id", num_partitions=3).collect()
    }
    assert again == out

    # a different seed gives a different permutation
    other = {
        r["doc_id"]: r["pos"] for r in global_shuffle(df, "doc_id", seed=1).collect()
    }
    assert other != out
    assert sorted(other.values()) == list(range(200))


def test_hashed_linear_logit_matches_python_reference(spark):
    """The codegen fold must equal a plain-Python evaluation of the same
    hashed-feature classifier (and thresholding must be logit-space)."""
    import hashlib

    from metalpipe_spark.operators.text import model_quality_filter

    weights = [(-1) ** i * (0.1 + 0.05 * i) for i in range(8)]

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    def ref_logit(text):
        toks = text.split(" ")
        s = sum(weights[h(t) % len(weights)] for t in toks)
        return round(s / max(len(toks), 1), 6)

    rows = [(1, "good clean prose here"), (2, "spam spam spam"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["logit"], r["keep"])
        for r in model_quality_filter(df, weights, threshold=0.0).collect()
    }
    for i, text in rows:
        want = ref_logit(text)
        assert abs(out[i][0] - want) < 1e-9, (i, out[i][0], want)
        assert out[i][1] == (out[i][0] >= 0.0)


def test_split_corpus_partition_and_exclusive(spark):
    """Every row lands in exactly one split, proportions are near the
    targets, assignment is partition-invariant, and fractions must sum
    to 1."""
    import pytest as _pytest

    from metalpipe_spark.operators.curation import split_corpus

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id int")
    fr = {"train": 0.8, "validation": 0.1, "test": 0.1}
    out = {r["doc_id"]: r["split"] for r in split_corpus(df, "doc_id", fr).collect()}
    assert len(out) == 1000
    from collections import Counter

    c = Counter(out.values())
    assert set(c) == {"train", "validation", "test"}
    assert 700 <= c["train"] <= 880
    assert 50 <= c["validation"] <= 160
    assert 50 <= c["test"] <= 160

    again = {
        r["doc_id"]: r["split"]
        for r in split_corpus(df.repartition(9), "doc_id", fr).collect()
    }
    assert again == out

    # a different salt reshuffles membership without changing proportions
    other = {
        r["doc_id"]: r["split"]
        for r in split_corpus(df, "doc_id", fr, salt="v2").collect()
    }
    assert other != out

    with _pytest.raises(ValueError):
        split_corpus(df, "doc_id", {"train": 0.8, "test": 0.1})


def test_normalize_for_dedup_collapses_variants(spark):
    """Case / punctuation / accent / spacing variants must normalize
    identically; CJK text must survive (not collapse to empty)."""
    from metalpipe_spark.operators.text import normalize_for_dedup

    rows = [
        (1, "Héllo,   World!"),
        (2, "hello world"),
        (3, "HELLO -- WORLD?"),
        (4, "Café au lait"),
        (5, "cafe au lait"),
        (6, "你好，世界！"),
        (7, "different text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", normalize_for_dedup("text").alias("n")).collect()
    }
    assert out[1] == out[2] == out[3] == "hello world"
    assert out[4] == out[5] == "cafe au lait"
    assert out[6] == "你好 世界"  # punctuation stripped, script preserved
    assert out[7] == "different text"


def test_lexicon_score_matches_python_reference(spark):
    from metalpipe_spark.operators.text import lexicon_score

    lex = {"good": 0.5, "bad": -0.25}
    rows = [(1, "good good bad"), (2, "neutral words here"), (3, "bad")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for exact in (False, True):
        got = {
            r["doc_id"]: r["lex_score"]
            for r in lexicon_score(df, lex, exact=exact).collect()
        }
        assert abs(got[1] - (0.5 + 0.5 - 0.25) / 3) < 1e-12
        assert got[2] == 0.0
        assert abs(got[3] - (-0.25)) < 1e-12


def test_ngram_logprob_matches_python_reference(spark):
    """Bigram construction + OOV backoff must equal a plain-Python
    evaluation; short docs (< n tokens) emit the OOV score."""
    from metalpipe_spark.operators.text import ngram_logprob

    lm = {"a b": -1.0, "b c": -2.0}
    rows = [(1, "a b c"), (2, "x y"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob(df, lm, n=2, oov_logprob=-8.0).collect()
    }
    assert abs(got[1] - (-1.0 + -2.0) / 2) < 1e-12
    assert abs(got[2] - (-8.0)) < 1e-12  # one OOV bigram
    assert got[3] == -8.0  # short doc fallback


def test_train_export_serve_quality_classifier_roundtrip(spark):
    """Close the model loop: train on hashed features (pyspark.ml
    L-BFGS), export (weights, bias), serve through the codegen
    hashed_linear_logit — the serving cut must reproduce the trained
    model's decision on every training doc, and accuracy must clear 0.9
    on a separable corpus."""
    from metalpipe_spark.operators.text import (
        model_quality_filter,
        train_hashed_quality_classifier,
    )

    good_vocab = ["clear", "prose", "informative", "structured", "useful"]
    spam_vocab = ["buy", "click", "free", "winner", "pills"]
    rows = []
    for i in range(60):
        g = " ".join(good_vocab[(i + j) % 5] for j in range(8))
        s = " ".join(spam_vocab[(i + j) % 5] for j in range(8))
        rows.append((2 * i, g, 1.0))
        rows.append((2 * i + 1, s, 0.0))
    df = spark.createDataFrame(rows, "doc_id int, text string, label double")

    weights, bias = train_hashed_quality_classifier(df, dim=32)
    assert len(weights) == 32

    served = model_quality_filter(
        df, weights, threshold=0.0, bias=bias
    ).select("doc_id", "label", "keep")
    got = {r["doc_id"]: (r["label"], r["keep"]) for r in served.collect()}
    acc = sum(1 for lbl, keep in got.values() if keep == (lbl == 1.0)) / len(got)
    assert acc >= 0.9, acc


def test_model_scoring_tokenization_matches_oracle_on_messy_whitespace(spark):
    """ADVICE r7: the model-scoring operators tokenize with split('\\s+')
    while their oracles used string_split(text, ' ') — parity silently
    depended on the corpus being single-spaced.  The oracles now use
    regexp_split_to_array(text, '\\s+') (verified byte-identical to Java
    split on leading/trailing/consecutive whitespace and tabs); this
    pins the agreement on deliberately messy text."""
    import duckdb

    from metalpipe_spark.operators.text import (
        hashed_linear_logit,
        lexicon_score,
        ngram_logprob,
    )

    rows = [
        (0, "plain single spaced text"),
        (1, " leading space"),
        (2, "trailing space "),
        (3, "double  space and\ttab"),
        (4, "a\n b\t\tc   d "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    weights = [0.5, -1.0, 2.0, 0.25]
    lex = {"a": 1.0, "b": -2.0, "text": 0.5, "space": 0.25}
    lm = {"a b": -0.5, "b c": -1.5, "single spaced": -0.25}

    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))

    from pyspark.sql import functions as F

    from metalpipe_spark.catalog.text import (
        _lexicon_oracle,
        _model_quality_oracle,
        _ngram_lm_oracle,
    )

    got = {
        r["doc_id"]: r["logit"]
        for r in docs.select(
            "doc_id", F.round(hashed_linear_logit("text", weights), 6).alias("logit")
        ).collect()
    }
    want_sql = _model_quality_oracle(weights, threshold=0.0)
    want = {r[0]: r[1] for r in con.execute(want_sql).fetchall()}
    assert got == {k: want[k] for k in got}

    got = {
        r["doc_id"]: round(r["lex_score"], 6)
        for r in lexicon_score(docs, lex, exact=True).collect()
    }
    want = {r[0]: r[1] for r in con.execute(_lexicon_oracle(lex)).fetchall()}
    assert got == {k: round(want[k], 6) for k in got}

    got = {
        r["doc_id"]: round(r["mean_logprob"], 6)
        for r in ngram_logprob(docs, lm).collect()
    }
    want = {r[0]: r[1] for r in con.execute(_ngram_lm_oracle(lm, -8.0)).fetchall()}
    assert set(got) <= set(want)
    assert got == {k: round(want[k], 6) for k in got}


def test_duplicate_span_dedup_offset_robust_first_wins(spark):
    """The content-defined-anchor contract: a duplicated run is caught
    at ANY offset (anchors are token-content functions), the globally
    first occurrence survives, short repeats below the window escape,
    and unique docs pass through byte-identical.  anchor_stride=1
    anchors every token, so detection is exhaustive and deterministic."""
    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    run = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, "a b c " + run + " tail1 x y"),
        (2, "p q r s t " + run + " tail2"),    # different offset: removed
        (3, "u v w1 w2 w3 u v"),               # short self-repeat: escapes
        (4, " ".join(f"t{i}" for i in range(20))),  # unique: untouched
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["clean_text"]
        for r in duplicate_span_dedup(
            docs, window=8, anchor_stride=1
        ).collect()
    }
    assert got[1] == rows[0][1]               # first occurrence intact
    for t in run.split():
        assert t not in got[2]                # the whole run removed
    assert got[2].startswith("p q r s t")     # uncovered prefix survives
    assert got[3] == rows[2][1]               # short repeat below window
    assert got[4] == rows[3][1]


def test_duplicate_span_dedup_anchor_offset_independence(spark):
    """With a sparse anchor stride, detection depends only on the run
    CONTENT containing an anchor token — verified against the same md5
    anchor rule computed in Python — never on the run's offset."""
    import hashlib

    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    stride, window = 2, 6

    def is_anchor(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % stride == 0

    run = [f"w{i}" for i in range(12)]
    # fixture precondition: some anchor exists in the catchable prefix
    assert any(is_anchor(t) for t in run[: len(run) - window + 1])
    rows = [
        (1, " ".join(["x1"] + run)),           # run at offset 1
        (2, " ".join(["y1", "y2"] + run)),     # run at offset 2 (odd/even shift)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["clean_text"]
        for r in duplicate_span_dedup(
            docs, window=window, anchor_stride=stride
        ).collect()
    }
    assert got[1] == rows[0][1]
    removed = [t for t in run if t not in got[2].split()]
    assert len(removed) >= window             # a full window was removed


def test_duplicate_span_dedup_winnowing_catches_adversarial_runs(spark):
    """The guaranteed-gap escalation (VERDICT r11 task 7): a duplicated
    run built ENTIRELY of non-anchor tokens dodges the mod-stride
    content-defined anchors at any length — the adversarial gap of the
    probabilistic design — but winnowing anchors (rightmost-argmin per
    w-window) cannot be dodged: every run of length >= window + 2w is
    caught at ANY offset."""
    import hashlib

    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    stride, window, gap = 4, 8, 4

    def is_anchor(tok: str) -> bool:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % stride == 0

    # Adversarial vocabulary: only tokens the mod-stride predicate
    # never selects (an adversary controls content, so it can always
    # build such a run — the reason a predicate family alone cannot
    # give a guarantee).
    evil = [t for t in (f"e{i}" for i in range(400)) if not is_anchor(t)]
    run = evil[: window + 2 * gap]  # the guarantee threshold
    fillers = [t for t in (f"f{i}" for i in range(100)) if not is_anchor(t)]

    for offset in (0, 1, 3, 7):  # pasted at incommensurate offsets
        rows = [
            (1, " ".join(fillers[:2] + run + ["tailA"])),
            (2, " ".join(fillers[10 : 10 + offset] + run + ["tailB"])),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        base = {
            r["doc_id"]: r["clean_text"]
            for r in duplicate_span_dedup(
                docs, window=window, anchor_stride=stride
            ).collect()
        }
        # Probabilistic design: the anchor-free run escapes wholesale.
        assert base[2] == rows[1][1], offset
        got = {
            r["doc_id"]: r["clean_text"]
            for r in duplicate_span_dedup(
                docs, window=window, anchor_stride=stride,
                guaranteed_gap=gap,
            ).collect()
        }
        assert got[1] == rows[0][1], offset  # first occurrence intact
        removed = [t for t in run if t not in got[2].split()]
        assert len(removed) >= window, (offset, removed)


def test_duplicate_span_dedup_winnowing_unique_docs_untouched(spark):
    """Winnowing anchors add DETECTION, never false removal: corpora
    with no duplicated window reassemble byte-identical, and the
    escalated run agrees with anchor_stride=1 (exhaustive) on what the
    duplicated content is."""
    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    rows = [
        (1, " ".join(f"a{i}" for i in range(30))),
        (2, " ".join(f"b{i}" for i in range(25))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["clean_text"]
        for r in duplicate_span_dedup(
            docs, window=8, anchor_stride=4, guaranteed_gap=4
        ).collect()
    }
    assert got == dict(rows)

    dup_rows = [
        (1, " ".join([f"c{i}" for i in range(4)] + [f"d{i}" for i in range(12)])),
        (2, " ".join([f"e{i}" for i in range(7)] + [f"d{i}" for i in range(12)])),
    ]
    ddocs = spark.createDataFrame(dup_rows, ["doc_id", "text"])
    exhaustive = {
        r["doc_id"]: r["clean_text"]
        for r in duplicate_span_dedup(
            ddocs, window=8, anchor_stride=1
        ).collect()
    }
    winnowed = {
        r["doc_id"]: r["clean_text"]
        for r in duplicate_span_dedup(
            ddocs, window=8, anchor_stride=4, guaranteed_gap=1
        ).collect()
    }
    # guaranteed_gap=1 selects every position (each window of one is
    # its own argmin) == the exhaustive sliding window.
    assert winnowed == exhaustive


def test_incremental_hamming_dedup_first_batch_and_geometry_guard(spark):
    """store=None seeds the code store with the batch's survivors, and
    an unsatisfiable banding geometry fails loudly instead of silently
    losing recall."""
    import pytest

    from metalpipe_spark.operators.dedup import (
        hamming_block_keys,
        incremental_hamming_dedup,
    )

    codes = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 1 << 40)], "id long, code long"
    )
    fresh, store = incremental_hamming_dedup(
        codes, None, code_col="code", id_col="id", bits=64, max_hamming=3, blocks=4
    )
    assert sorted(r["id"] for r in fresh.collect()) == [1, 3]  # 2 dups 1
    assert sorted(r["id"] for r in store.collect()) == [1, 3]

    with pytest.raises(ValueError, match="combo"):
        hamming_block_keys(64, max_hamming=3, blocks=4, combo=2)
    with pytest.raises(ValueError, match="divisible"):
        hamming_block_keys(64, max_hamming=3, blocks=5, combo=1)


def test_range_join_boundaries_buckets_and_empty_intervals(spark):
    """Range-join semantics: inclusive start, exclusive end; intervals
    spanning many buckets still match each point exactly once; empty
    intervals match nothing; keys separate users."""
    from datetime import datetime

    from metalpipe_spark.operators.joins import range_join

    T = datetime
    points = spark.createDataFrame(
        [
            (1, 10, T(2024, 1, 1, 0, 0, 0)),   # == start: in
            (2, 10, T(2024, 1, 1, 5, 0, 0)),   # mid, 5 buckets later: in
            (3, 10, T(2024, 1, 1, 6, 0, 0)),   # == end: OUT (exclusive)
            (4, 99, T(2024, 1, 1, 1, 0, 0)),   # wrong key: out
            (5, 10, T(2024, 1, 2, 0, 0, 30)),  # inside the empty interval's span: out
        ],
        "event_id long, user_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, 10, T(2024, 1, 1, 0, 0, 0), T(2024, 1, 1, 6, 0, 0)),
            (101, 10, T(2024, 1, 2, 0, 0, 30), T(2024, 1, 2, 0, 0, 30)),  # empty
        ],
        "interval_id long, user_id long, start timestamp, end timestamp",
    )
    got = sorted(
        (r["event_id"], r["interval_id"])
        for r in range_join(
            points, intervals, "ts", "start", "end",
            keys="user_id", bucket_seconds=3600,
        ).collect()
    )
    assert got == [(1, 100), (2, 100)]


def test_hll_estimate_accuracy_and_merge_regime(spark):
    """HLL in its raw-estimator regime (cardinality >> 2.5m is false
    here, but >> zeros-correction territory): 50k distinct values at
    p=12 must land within ~5% (theory: 1.04/sqrt(4096) = 1.6% sigma),
    and the estimate is deterministic (same md5 inputs, same answer)."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import hll_count_distinct

    n = 50_000
    df = spark.range(n).select(
        F.lit("g").alias("grp"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    est1 = hll_count_distinct(df, "v", group_cols=["grp"]).collect()[0]["hll_estimate"]
    est2 = hll_count_distinct(
        df.repartition(7), "v", group_cols=["grp"]
    ).collect()[0]["hll_estimate"]
    assert est1 == est2  # partitioning-independent by integer-exact sums
    assert abs(est1 - n) / n < 0.05


def test_count_min_one_sided_and_collision_behavior(spark):
    """Count-min contract: estimates are NEVER below the true count
    (one-sided error), exact when no collisions, and inflated-but-
    bounded when a tiny width forces collisions."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import (
        count_min_lookup,
        count_min_sketch,
    )

    rows = [("a",)] * 100 + [("b",)] * 10 + [(f"x{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, ["tok"])
    truth = {"a": 100, "b": 10, "x0": 1}
    queries = spark.createDataFrame([(t,) for t in truth], ["tok"])

    wide = count_min_lookup(
        count_min_sketch(df, "tok", depth=4, width=2048), queries, "tok"
    )
    got = {r["tok"]: r["cm_estimate"] for r in wide.collect()}
    assert got == truth  # no collisions at this width

    narrow = count_min_lookup(
        count_min_sketch(df, "tok", depth=4, width=4), queries, "tok"
    )
    got = {r["tok"]: r["cm_estimate"] for r in narrow.collect()}
    total = len(rows)
    for t, n in truth.items():
        assert n <= got[t] <= total  # one-sided, bounded by stream size


def test_third_review_fixes(spark):
    """Pin the third self-review's behavior fixes: all-success monitor
    tables materialize, counter range semantics are python-range
    explicit, reference-shaped sequence tags and to_bool('1')==False,
    empty sequences emit zero rows, strftime escapes tokenize, and
    unknown UDF modes fail loudly."""
    import pytest

    from metalpipe_spark.functions.scalars import _java_format
    from metalpipe_spark.monitoring import EngineMonitor
    from metalpipe_spark.sources.emitters import counter_of_things, sequence_emitter
    from metalpipe_spark.udf_registry import wrap_udf

    mon = EngineMonitor()
    assert mon.timed("ok", lambda: 7) == 7
    assert [r["status"] for r in mon.table(spark).collect()] == ["success"]
    with pytest.raises(TypeError, match="callable"):
        mon.timed("bad", 42)

    assert [r["count"] for r in counter_of_things(spark, 3).collect()] == [0, 1, 2]
    assert [r["count"] for r in counter_of_things(spark, 2, 5).collect()] == [2, 3, 4]

    ints = sequence_emitter(spark, [{"type": "Integer", "value": "3"}, {"int": "9"}])
    assert sorted(r["value"] for r in ints.collect()) == [3, 9]
    bools = sequence_emitter(
        spark, [{"type": "bool", "value": "1"}, {"type": "bool", "value": "yes"}]
    )
    # reference to_bool: '1' is FALSE (first char not t/y), 'yes' is True
    assert sorted(r["value"] for r in bools.collect()) == [False, True]
    assert sequence_emitter(spark, [], 1).count() == 0
    assert sequence_emitter(spark, ["a"], 0).count() == 0

    assert _java_format("%%Y") == "%Y"
    assert _java_format("%Y-%m") == "yyyy-MM"
    with pytest.raises(ValueError, match="%j"):
        _java_format("%j")
    with pytest.raises(ValueError, match="mode"):
        wrap_udf(lambda x: x, "string", mode="Pandas")


def test_fourth_review_null_policies_and_mixed_id_search(spark):
    """Pin the fourth self-review's fixes: NULL text -> 'unk' language /
    too_short drop / retained lexicon row; NULL weights pack as 0; IVF
    search works with string-keyed queries over a long-id corpus (the
    cogroup schema previously declared both sides with the query type)."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.curation import pack_shards
    from metalpipe_spark.operators.similarity import ivf_search
    from metalpipe_spark.operators.text import (
        detect_language,
        lexicon_score,
        quality_filter,
    )

    d = spark.createDataFrame(
        [(1, None), (2, "the cat and the dog is here now yes ok")],
        "doc_id long, text string",
    )
    assert d.select(detect_language("text")).collect()[0][0] == "unk"
    qf = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in quality_filter(d).collect()}
    assert qf[1] == (False, "too_short")
    assert sorted(
        r["doc_id"] for r in lexicon_score(d, {"cat": 1.0}).collect()
    ) == [1, 2]

    p = spark.createDataFrame([(1, None), (2, 10), (3, 10)], "doc_id long, n long")
    shards = {r["doc_id"]: r["shard_id"] for r in pack_shards(p, "n", "doc_id", 15).collect()}
    assert shards == {1: 0, 2: 0, 3: 0}  # NULL weight = 0, no INT64_MIN garbage

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 0.1]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("qa", [1.0, 1.0, 0.5, 0.1]), ("qb", [6.0, 1.0, 0.5, 0.1])],
        "query_id string, embedding array<double>",
    )
    got = ivf_search(corpus, queries, k_cells=4, k=3, n_probe=2).collect()
    assert len(got) > 0
    assert {type(r["query_id"]) for r in got} == {str}
    assert {type(r["vec_id"]) for r in got} == {int}


def test_fifth_review_reference_semantics(spark):
    """Pin the operator-file review fixes: self-pair nodes keep a CC
    row, value=False keeps NULL-valued rows (reference parity), nested
    keypaths rewrite in place, a missing nested key is compile-time
    False, and media ops accept string ids."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.dedup import connected_components
    from metalpipe_spark.operators.filtering import filter_node
    from metalpipe_spark.operators.multimodal import decode_media, resize_media
    from metalpipe_spark.operators.transform import substitute_regex

    pairs = spark.createDataFrame([(5, 5), (1, 2)], ["d1", "d2"])
    comp = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 5: 5}  # the reflexive-only node survives

    d = spark.createDataFrame(
        [(1, None), (2, True), (3, False)], "id long, flag boolean"
    )
    kept_true = {r["id"] for r in filter_node(d, "value_is_true", "flag").collect()}
    kept_false = {r["id"] for r in filter_node(d, "value_is_true", "flag", value=False).collect()}
    assert kept_true == {2}
    assert kept_false == {1, 3}  # complement includes the NULL row

    nested = spark.createDataFrame(
        [(1, {"title": "foo bar"})], "id long, meta struct<title:string>"
    )
    out = substitute_regex(nested, "meta.title", "foo", "baz").collect()[0]
    assert out["meta"]["title"] == "baz bar"
    assert "meta.title" not in substitute_regex(nested, "meta.title", "x", "y").columns

    assert filter_node(nested, "key_exists", "meta.missing").count() == 0
    assert filter_node(nested, "key_exists", "meta.missing", value=False).count() == 1

    media = spark.createDataFrame(
        [("sha-a", "image", bytearray(b"xyz" * 20))],
        "id string, media_type string, content binary",
    )
    assert decode_media(media).collect()[0]["id"] == "sha-a"
    rz = resize_media(
        media.select("id", "content", F.lit(4).alias("width"), F.lit(5).alias("height")),
        2, 2,
    ).collect()[0]
    assert rz["id"] == "sha-a" and len(rz["content"]) == 2 * 2 * 3


def test_shared_cluster_stage_memoizes(spark):
    """The cluster-shaped catalog rows share one materialized CC stage
    per (session, sf_dir): the second call returns the SAME DataFrame
    object, and q_cluster_sizes equals aggregating q_dedup_clusters."""
    from metalpipe_spark.catalog import dedup as cat_dedup
    from tests.conftest import SF_ORACLE

    cat_dedup.clear_shared_stages()
    a = cat_dedup._cluster_assignments(spark, SF_ORACLE)
    b = cat_dedup._cluster_assignments(spark, SF_ORACLE)
    assert a is b
    sizes = {
        (r["size"], r["n_clusters"])
        for r in cat_dedup.q_cluster_sizes(spark, SF_ORACLE).collect()
    }
    from pyspark.sql import functions as F

    derived = {
        (r["size"], r["n_clusters"])
        for r in a.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .collect()
    }
    assert sizes == derived


def test_pack_sequences_invariants(spark):
    """Sequence packing must tile the concatenated token stream exactly:
    per-document pieces reconstruct the document (contiguous from
    doc_start 0), per-sequence pieces fill every sequence to seq_len
    (except the last), zero-token docs vanish, and the manifest is
    identical for any partition count."""
    from metalpipe_spark.operators.curation import pack_sequences

    rows = [(i, (i * 37) % 23) for i in range(50)]  # includes n=0 docs
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "n", "doc_id", 16, num_partitions=3).collect()

    by_doc: dict[int, list] = {}
    by_seq: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
        by_seq.setdefault(r["seq_id"], []).append(r)

    want = {d: n for d, n in rows if n > 0}
    assert set(by_doc) == set(want)
    for d, pieces in by_doc.items():
        pieces.sort(key=lambda r: r["seq_id"])
        assert pieces[0]["doc_start"] == 0
        assert sum(p["piece_len"] for p in pieces) == want[d]
        # contiguous within the doc AND consecutive sequences
        off = 0
        for a, b in zip(pieces, pieces[1:]):
            assert b["seq_id"] == a["seq_id"] + 1
        for p in pieces:
            assert p["doc_start"] == off
            off += p["piece_len"]

    total = sum(want.values())
    last_seq = max(by_seq)
    for s, pieces in by_seq.items():
        filled = sum(p["piece_len"] for p in pieces)
        assert filled == (16 if s < last_seq else total - 16 * last_seq)
        # pieces tile the sequence without gaps or overlap
        spans = sorted((p["seq_start"], p["piece_len"]) for p in pieces)
        cur = 0
        for start, ln in spans:
            assert start == cur
            cur += ln

    # partition-count independence
    again = pack_sequences(df, "n", "doc_id", 16, num_partitions=7).collect()
    key = lambda r: (r["doc_id"], r["seq_id"], r["doc_start"], r["seq_start"], r["piece_len"])
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_bloom_filter_one_sided_membership(spark):
    """Bloom contract: every inserted value probes positive (NO false
    negatives, ever), definite negatives exist at a sane load factor,
    and the mask is geometry-stamped so probes hash with the filter's
    own parameters.  Also pins packing: mask length = m/64 and the
    membership decision is identical across input partitionings."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.range(500).select(
        F.concat(F.lit("in"), F.col("id")).alias("v")
    )
    bloom = bloom_build(members, "v", m_bits=1 << 14, k=4)
    row = bloom.collect()[0]
    assert (len(row["mask"]), row["m"], row["k"]) == (256, 1 << 14, 4)

    got = bloom_probe(members, "v", bloom).collect()
    assert all(r["maybe_member"] for r in got)  # no false negatives

    probes = spark.range(500).select(
        F.concat(F.lit("out"), F.col("id")).alias("v")
    )
    neg = bloom_probe(probes, "v", bloom).where(~F.col("maybe_member")).count()
    # 500 members in 2^14 bits, k=4: per-probe fp ~ (1-e^-0.12)^4 ~ 2e-4
    assert neg >= 490

    bloom2 = bloom_build(members.repartition(7), "v", m_bits=1 << 14, k=4)
    assert bloom2.collect()[0]["mask"] == row["mask"]


def test_bloom_decontaminate_never_misses_exact_contamination(spark):
    """bloom_decontaminate's one-sided guarantee vs the exact operator:
    every document the exact shingle-join flags is also Bloom-flagged
    (false positives allowed, misses never), with hit counts >= the
    exact shared-shingle counts."""
    from metalpipe_spark.operators.dedup import decontaminate
    from metalpipe_spark.operators.sketches import bloom_decontaminate

    bench_rows = [(100 + i, f"secret eval item {i} held out answer {i}") for i in range(5)]
    corpus_rows = [
        # contaminated: embeds a full benchmark doc
        (0, "prefix words secret eval item 2 held out answer 2 suffix"),
        # clean
        (1, "completely unrelated training text about other things entirely"),
        (2, "more clean text with no overlap whatsoever in these tokens"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])

    _, exact = decontaminate(corpus, bench, min_shared=3)
    clean, bloom = bloom_decontaminate(
        corpus, bench, m_bits=1 << 14, k=4, min_hits=3
    )
    exact_ids = {r["corpus_id"] for r in exact.collect()}
    bloom_rows = {r["doc_id"]: r["bloom_hits"] for r in bloom.collect()}
    assert exact_ids == {0}
    assert exact_ids <= set(bloom_rows)  # never misses
    exact_counts = {
        r["corpus_id"]: r["shared_shingles"] for r in exact.collect()
    }
    for d, n in exact_counts.items():
        assert bloom_rows[d] >= n  # hits only inflate
    kept = {r["doc_id"] for r in clean.collect()}
    assert 0 not in kept and kept <= {1, 2}


def test_temperature_resample_flattens_domains(spark):
    """mT5-sampling contract: alpha < 1 upsamples low-resource domains
    RELATIVE to natural proportions — the small domain's share of the
    output exceeds its share of the input — while alpha = 1 reproduces
    domain_mix-with-natural-weights (rates equal across domains);
    results are partitioning-independent."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.curation import temperature_resample

    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain"])

    out = temperature_resample(
        df, "domain", "doc_id", alpha=0.3, budget_frac=0.5
    )
    got = {r["domain"]: r["cnt"] for r in out.groupBy("domain").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    small_share = got["small"] / (got["small"] + got["big"])
    assert small_share > 100 / 1000  # upsampled vs natural 10%

    flat = temperature_resample(
        df, "domain", "doc_id", alpha=1.0, budget_frac=0.5
    )
    # alpha=1: w_d = n_d / total, so every domain gets the SAME rate
    # (budget_frac) and composition stays natural in expectation.
    n = {r["domain"]: r["cnt"] for r in flat.groupBy("domain").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert abs(n["big"] / 900 - n["small"] / 100) < 0.15

    again = temperature_resample(
        df.repartition(7), "domain", "doc_id", alpha=0.3, budget_frac=0.5
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_bm25_ranks_matching_docs_and_rewards_rare_terms(spark):
    """BM25 contract: docs containing query terms outrank docs with
    none (which never appear); a doc matching the RARE term outranks an
    equal-length doc matching the COMMON term (idf ordering); scores
    are stable under repartitioning (the fold is tok-ordered, not
    shuffle-ordered)."""
    from metalpipe_spark.operators.text import bm25_topk

    rows = (
        [(0, "rare filler filler filler")]
        + [(1, "common filler filler filler")]
        + [(i + 10, "common pad pad pad") for i in range(8)]
        + [(100, "nothing matches here at all")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["rare", "common"], k=20)
    out = got.collect()
    ids = [r["doc_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert 100 not in ids  # no query term -> no row
    assert ids[0] == 0  # the rare-term doc wins on idf
    assert set(ids) == {0, 1} | {i + 10 for i in range(8)}

    again = bm25_topk(df.repartition(5), ["rare", "common"], k=20).collect()
    assert sorted((r["doc_id"], r["bm25"]) for r in again) == sorted(
        (r["doc_id"], r["bm25"]) for r in out
    )


def test_weighted_sample_favors_heavy_rows_and_is_reproducible(spark):
    """A-Res contract: (1) heavily-weighted rows are sampled far more
    often than light ones (weight 100 vs 1 over many disjoint draws);
    (2) the sample is identical under repartitioning; (3) NULL and
    non-positive weights never qualify; (4) global (ungrouped) form
    returns exactly k ranked rows."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.curation import weighted_sample_per_group

    # 50 groups of 20 rows each: one heavy row per group, rest light.
    rows = []
    for g in range(50):
        for i in range(20):
            rows.append((g * 100 + i, g, 100 if i == 0 else 1))
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    got = weighted_sample_per_group(df, "w", "doc_id", k=1, group_col="grp")
    picked = [r["doc_id"] % 100 == 0 for r in got.collect()]
    assert len(picked) == 50
    # heavy row has ~100/119 chance per group; binomial(50, .84) under
    # 30 is astronomically unlikely
    assert sum(picked) >= 30

    again = weighted_sample_per_group(
        df.repartition(7), "w", "doc_id", k=1, group_col="grp"
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in got.collect()
    )

    with_bad = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -2), (4, None)], "doc_id INT, w INT"
    )
    kept = weighted_sample_per_group(with_bad, "w", "doc_id", k=10)
    assert [r["doc_id"] for r in kept.collect()] == [1]

    top = weighted_sample_per_group(df, "w", "doc_id", k=7)
    out = top.collect()
    assert len(out) == 7 and sorted(r["rnk"] for r in out) == list(range(1, 8))


def test_pack_shards_fractional_weights_keep_exact_boundaries(spark):
    """Review fix (r9): exclusive_prefix_sum keeps a DOUBLE prefix for
    fractional weights — the int64 truncation packed weights 0.6 with
    budget 0.5 as shards (0, 0, 2, 2) instead of (0, 1, 2, 3)."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.curation import pack_shards

    df = spark.createDataFrame(
        [(i, 0.6) for i in range(4)], "doc_id INT, w DOUBLE"
    )
    got = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(df, "w", "doc_id", 0.5).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    # fractional weights with an INTEGER budget take the floor path too
    got2 = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shards(df, "w", "doc_id", 1).collect()
    }
    assert got2 == {0: 0, 1: 0, 2: 1, 3: 1}  # prefixes 0,.6,1.2,1.8

    # pack_sequences refuses fractional weights loudly
    import pytest

    from metalpipe_spark.operators.curation import pack_sequences

    with pytest.raises(ValueError, match="integral"):
        pack_sequences(df, "w", "doc_id", 8)


def test_char_entropy_orders_gibberish_above_repetition(spark):
    """Entropy physics: random-looking text scores high, single-char
    filler scores 0, and a two-symbol alternation scores exactly 1 bit;
    results are partitioning-independent (char-sorted fold)."""
    from metalpipe_spark.operators.text import char_entropy

    rows = [
        (0, "aaaaaaaaaaaaaaaa"),
        (1, "abababababababab"),
        (2, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert got[0]["char_entropy"] == 0.0
    assert got[1]["char_entropy"] == 1.0
    assert got[2]["char_entropy"] > 3.0
    assert got[2]["n_chars"] == len(rows[2][1])

    again = {
        r["doc_id"]: r["char_entropy"]
        for r in char_entropy(df.repartition(5)).collect()
    }
    assert again == {k: v["char_entropy"] for k, v in got.items()}


def test_bloom_merge_equals_union_build(spark):
    """Bloom mergeability: OR-merging per-shard filters equals building
    one filter over the union (bit-identical mask), and mixed
    geometries are rejected loudly."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import bloom_build, bloom_merge

    a = spark.range(300).select(F.concat(F.lit("a"), F.col("id")).alias("v"))
    b = spark.range(300, 600).select(
        F.concat(F.lit("a"), F.col("id")).alias("v")
    )
    ba = bloom_build(a, "v", m_bits=1 << 14, k=4)
    bb = bloom_build(b, "v", m_bits=1 << 14, k=4)
    merged = bloom_merge(ba.unionByName(bb)).collect()[0]
    direct = bloom_build(a.unionByName(b), "v", m_bits=1 << 14, k=4).collect()[0]
    assert merged["mask"] == direct["mask"]
    assert (merged["m"], merged["k"]) == (1 << 14, 4)

    other = bloom_build(a, "v", m_bits=1 << 13, k=4)
    with pytest.raises(ValueError, match="geometry"):
        bloom_merge(ba.unionByName(other))


def test_asof_join_null_semantics_and_row_atomicity(spark):
    """Review fixes (r9): (1) the as-of match is ROW-atomic — a NULL
    value in the true match is returned as NULL, never replaced by an
    older row's value; (2) right rows with NULL ts never match (ts <=
    anything is never true for NULL); (3) NULL join keys never pair."""
    from metalpipe_spark.operators.joins import as_of_join

    right = spark.createDataFrame(
        [
            ("u", 100, 5),     # older row with a value
            ("u", 130, None),  # the true as-of match, value NULL
            ("w", None, 7),    # NULL ts: must never match
            (None, 50, 9),     # NULL key: must never match
        ],
        "user_id string, ts long, v int",
    )
    left = spark.createDataFrame(
        [("u", 145), ("w", 200), (None, 200)],
        "user_id string, ts long",
    )
    got = {
        r["user_id"]: (r["asof_ts"], r["asof_v"])
        for r in as_of_join(left, right, "user_id").collect()
    }
    assert got["u"] == (130, None)  # atomic: NOT (130, 5)
    assert got["w"] == (None, None)
    assert got[None] == (None, None)


def test_enrich_left_join_retains_unmatched_fact_values(spark):
    """Review fix (r9): under how='left' an unmatched fact row KEEPS its
    clashing column's value (the reference merge only overrides when a
    new value arrives); matched rows still take the dim value."""
    from metalpipe_spark.operators.joins import enrich_join

    fact = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], "id int, status string"
    )
    dim = spark.createDataFrame([(1, "new1")], "id int, status string")
    got = {
        r["id"]: r["status"]
        for r in enrich_join(fact, dim, "id", how="left").collect()
    }
    assert got == {1: "new1", 2: "old2"}


def test_batch_messages_exact_above_double_precision(spark):
    """Review fix (r9): batch ids come from BIGINT floor-division — keys
    above 2^53 (snowflake-id class) batch exactly, where the old DOUBLE
    division rounded neighbors into the wrong batch."""
    from metalpipe_spark.operators.aggregate import batch_messages

    k = (1 << 53) + 1
    df = spark.createDataFrame(
        [(k - 1,), (k,), (k + 99,)], "id long"
    )
    got = {
        r["batch_id"]: r["batch_size"]
        for r in batch_messages(df, 100, "id").collect()
    }
    # floor((2^53)/100) boundaries computed exactly
    b_lo = (k - 1 - (k - 1) % 100) // 100
    b_hi = (k - k % 100) // 100
    expect = {}
    for v in (k - 1, k, k + 99):
        b = (v - v % 100) // 100
        expect[b] = expect.get(b, 0) + 1
    assert got == expect


def test_enrich_join_right_full_keep_dim_keys(spark):
    """Review fix (r10): how='right'/'full' dim-only rows keep the DIM's
    join key and dim clash value (previously NULL key + NULL fact cols
    selected off the fact alias)."""
    from metalpipe_spark.operators.joins import enrich_join

    fact = spark.createDataFrame([(1, "old1")], "id int, status string")
    dim = spark.createDataFrame(
        [(1, "new1"), (9, "dim9")], "id int, status string"
    )
    for how in ("right", "full"):
        got = {
            r["id"]: r["status"]
            for r in enrich_join(fact, dim, "id", how=how).collect()
        }
        assert got[1] == "new1"
        assert got[9] == "dim9", how  # dim-only row keeps its key+value


def test_enrich_join_semi_anti_with_clashes(spark):
    """Review fix (r10): semi/anti joins output only fact columns; the
    clash-merge branch previously selected nonexistent dim columns and
    raised AnalysisException."""
    from metalpipe_spark.operators.joins import enrich_join

    fact = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], "id int, status string"
    )
    dim = spark.createDataFrame([(1, "new1")], "id int, status string")
    semi = enrich_join(fact, dim, "id", how="left_semi")
    anti = enrich_join(fact, dim, "id", how="left_anti")
    assert semi.columns == ["id", "status"]
    assert [r["id"] for r in semi.collect()] == [1]
    assert [(r["id"], r["status"]) for r in anti.collect()] == [(2, "old2")]


def test_enrich_join_matched_null_dim_value_overrides(spark):
    """Review fix (r10): the merge is row-atomic — a dim row that matched
    but carries a NULL clash value still overrides the fact's value
    (reference dict-update: an arriving None wins), instead of coalesce
    silently keeping the fact's stale value."""
    from metalpipe_spark.operators.joins import enrich_join

    fact = spark.createDataFrame([(1, "old1")], "id int, status string")
    dim = spark.createDataFrame([(1, None)], "id int, status string")
    [row] = enrich_join(fact, dim, "id", how="left").collect()
    assert row["status"] is None


def test_batch_messages_fractional_keys_floor(spark):
    """Review fix (r10): fractional keys keep true floor(key/n) — a
    DOUBLE key of -0.5 lands in batch -1, not truncated into batch 0."""
    from metalpipe_spark.operators.aggregate import batch_messages

    df = spark.createDataFrame([(-0.5,), (0.5,), (1.5,)], "k double")
    got = {
        r["batch_id"]: r["batch_size"]
        for r in batch_messages(df, 1, "k").collect()
    }
    assert got == {-1: 1, 0: 1, 1: 1}


def test_clear_shared_stages_is_kind_selective(spark):
    """Bench accounting (r10): each designated payer clears ITS stage
    kind only, so paying the CC stage never re-pays the signature
    stage another row is designated to pay."""
    from metalpipe_spark.catalog import dedup as cat_dedup
    from tests.conftest import SF_ORACLE

    cat_dedup.clear_shared_stages()
    sigs = cat_dedup._shared_minhash_sigs(spark, SF_ORACLE)
    cc = cat_dedup._cluster_assignments(spark, SF_ORACLE)
    cat_dedup.clear_shared_stages({"cc"})
    # signature memo survived; CC memo dropped
    assert cat_dedup._shared_minhash_sigs(spark, SF_ORACLE) is sigs
    assert cat_dedup._cluster_assignments(spark, SF_ORACLE) is not cc
    cat_dedup.clear_shared_stages()


def test_clear_shared_stages_tolerates_only_py4j_errors(monkeypatch):
    """A handle whose context is gone raises Py4JError on unpersist and
    is dropped quietly; any other error is a real fault and propagates."""
    from py4j.protocol import Py4JError

    from metalpipe_spark.catalog import dedup as cat_dedup

    class Handle:
        def __init__(self, exc):
            self.exc = exc

        def unpersist(self, blocking):
            raise self.exc

    stages = {("app", "sigs"): (None, Handle(Py4JError("stopped")))}
    monkeypatch.setattr(cat_dedup, "_SHARED_STAGES", stages)
    cat_dedup.clear_shared_stages()
    assert stages == {}
    stages[("app", "cc")] = (None, Handle(ValueError("bad handle")))
    with pytest.raises(ValueError, match="bad handle"):
        cat_dedup.clear_shared_stages({"cc"})


def test_connected_components_driver_path_matches_distributed(spark):
    """Adaptive small-graph path (r10): below driver_max_edges the
    components resolve by driver union-find; the assignments must be
    IDENTICAL to the distributed large-star/small-star loop, including
    self-pairs (1-node components) and NULL endpoints (contribute
    nothing on either path)."""
    import random

    from metalpipe_spark.operators.dedup import connected_components

    rng = random.Random(11)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(60)})
    edges += [(7, 7), (39, 39)]  # self pairs
    df = spark.createDataFrame(edges, "d1 long, d2 long").unionByName(
        spark.createDataFrame([(3, None)], "d1 long, d2 long")
    )
    fast = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    slow = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert fast == slow and fast


def test_connected_components_driver_path_threshold(spark):
    """Above the bound the distributed loop runs (no edge collect): pin
    by setting the bound below the edge count and checking the result
    still matches — the two paths swap purely on size."""
    from metalpipe_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, driver_max_edges=5).collect()
    }
    assert got == {i: 0 for i in range(31)}


def test_bm25_batch_matches_single_query_and_rrf_fuses_ranks(spark):
    """bm25_topk_batch per query == bm25_topk run with that query's
    terms (shared scoring core, different tails), and rrf_fuse
    implements 1/(c+rank) with absent-doc zero-contribution: a doc
    ranked by BOTH sources outranks one ranked by a single source at
    equal rank."""
    from metalpipe_spark.operators.retrieval import bm25_topk_batch, rrf_fuse
    from metalpipe_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "rare common alpha beta"),
            (1, "common alpha beta gamma delta"),
            (2, "rare rare common"),
            (3, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(100, ["rare", "common"]), (200, ["alpha", "gamma"])],
        "query_id long, terms array<string>",
    )
    batch = {}
    for r in bm25_topk_batch(docs, queries, k=10).collect():
        batch.setdefault(r["query_id"], []).append(
            (r["rnk"], r["doc_id"], r["bm25"])
        )
    for qid, terms in ((100, ["rare", "common"]), (200, ["alpha", "gamma"])):
        single = [
            (r["rnk"], r["doc_id"], r["bm25"])
            for r in bm25_topk(docs, terms, k=10).collect()
        ]
        assert sorted(batch[qid]) == sorted(single)

    # RRF: doc 1 is rank-1 in both lists; docs 2/3 are rank-2 in one
    # list each.  1 must fuse first; 2 beats 3 only by the id tiebreak
    # (identical scores), and both must carry 1/(60+2) exactly.
    a = spark.createDataFrame(
        [(9, 1, 1), (9, 2, 2)], "query_id long, doc_id long, rnk long"
    )
    b = spark.createDataFrame(
        [(9, 1, 1), (9, 3, 2)], "query_id long, doc_id long, rnk long"
    )
    fused = {
        r["doc_id"]: (r["rnk"], r["rrf"])
        for r in rrf_fuse({"a": a, "b": b}, k=10).collect()
    }
    assert fused[1][0] == 1 and fused[2][0] == 2 and fused[3][0] == 3
    assert fused[1][1] == round(2.0 / 61.0, 9)
    assert fused[2][1] == fused[3][1] == round(1.0 / 62.0, 9)


def test_corpus_report_dup_rate_and_approx_mode(spark):
    """corpus_report: dup_rate counts exact text duplicates; the approx
    twin keeps the same schema/derived columns and lands within HLL
    error on this tiny input (identity here)."""
    from metalpipe_spark.operators.text import corpus_report

    df = spark.createDataFrame(
        [
            (0, "a b c", "en", "s1"),
            (1, "a b c", "en", "s2"),
            (2, "d e", "de", "s1"),
            (3, None, "de", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    row = corpus_report(df).collect()[0]
    assert row["n_docs"] == 4 and row["total_tokens"] == 3 + 3 + 2 + 1
    assert row["n_unique_docs"] == 3  # dup pair + empty-coalesced NULL
    assert row["n_langs"] == 2 and row["n_sources"] == 2
    assert row["dup_rate"] == 0.25 and row["mean_doc_tokens"] == 2.25

    approx = corpus_report(df, exact_distinct=False).collect()[0]
    assert approx.asDict().keys() == row.asDict().keys()
    assert approx["n_docs"] == 4 and approx["n_langs"] == 2


def test_temperature_epochs_upsamples_small_domains_deterministically(spark):
    """temperature_resample_epochs: with a heavy/light domain imbalance
    and full budget, the light domain's rate exceeds 1 so EVERY light
    row appears floor(rate)+ times (epochs 0..k-1 contiguous) — the
    upsampling the capped filter cannot express; total output is within
    stochastic-rounding distance of the budget; identical under
    repartitioning."""
    import math

    from metalpipe_spark.operators.curation import temperature_resample_epochs

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample_epochs(df, "lang", "doc_id", alpha=0.3, budget_frac=1.0)
    got = out.groupBy("doc_id", "lang").count().collect()

    # rate_small = total * share / n = 1000*(100^.3/(900^.3+100^.3))/100
    s, b = 100 ** 0.3, 900 ** 0.3
    r_small = 1000 * (s / (s + b)) / 100
    r_big = 1000 * (b / (s + b)) / 900
    assert r_small > 1 > r_big
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r["count"])
        # epochs are contiguous 0..k-1 per key
    small_counts = by_lang["small"]
    assert len(small_counts) == 100  # every small row survives
    assert all(c in (math.floor(r_small), math.floor(r_small) + 1) for c in small_counts)
    total = sum(c for cs in by_lang.values() for c in cs)
    assert abs(total - 1000) < 100  # stochastic rounding, not the capped undershoot

    again = temperature_resample_epochs(
        df.repartition(7), "lang", "doc_id", alpha=0.3, budget_frac=1.0
    )
    assert sorted((r["doc_id"], r["epoch"]) for r in again.collect()) == sorted(
        (r["doc_id"], r["epoch"]) for r in out.collect()
    )


def test_curriculum_order_bands_and_partition_invariance(spark):
    """curriculum_order: bands are contiguous in train_pos (all of
    bucket b reads before any of b+1), equal-sized (+-1), genuinely
    shuffled within a band (not score order), and the whole assignment
    is invariant under input partitioning."""
    from metalpipe_spark.operators.curation import curriculum_order

    df = spark.createDataFrame(
        [(i, (i * 37) % 1000) for i in range(200)], "doc_id long, score long"
    )
    out = curriculum_order(df, "score", "doc_id", n_buckets=4, seed=1)
    rows = sorted(
        (r["train_pos"], r["bucket"], r["score"], r["doc_id"])
        for r in out.collect()
    )
    assert len(rows) == 200 and [p for p, *_ in rows] == list(range(200))
    buckets = [b for _, b, _, _ in rows]
    assert buckets == sorted(buckets)  # bands contiguous in read order
    from collections import Counter

    assert set(Counter(buckets).values()) == {50}  # equal bands
    # every bucket-0 score is below every bucket-3 score (rank cut)
    s0 = [s for _, b, s, _ in rows if b == 0]
    s3 = [s for _, b, s, _ in rows if b == 3]
    assert max(s0) < min(s3)
    assert s0 != sorted(s0)  # shuffled within the band, not score order

    again = curriculum_order(df.repartition(7), "score", "doc_id", n_buckets=4, seed=1)
    assert sorted(
        (r["train_pos"], r["bucket"], r["score"], r["doc_id"])
        for r in again.collect()
    ) == rows


def test_pivot_pinned_matches_groupby_pivot_and_plans_one_aggregate(spark):
    """pivot_pinned must equal DataFrame .pivot() on pinned values while
    planning ONE hash-aggregate pair (2 HashAggregate nodes, 1
    Exchange) instead of pivot's double aggregate."""
    from metalpipe_spark.operators.aggregate import pivot_pinned

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0),
         ("b", "x", 4.0), ("c", "z", 5.0), ("a", None, 9.0)],
        "k string, p string, v double",
    )
    got = pivot_pinned(df, "k", "p", ["x", "y"], "v")
    want = (
        df.groupBy("k").pivot("p", ["x", "y"]).agg(F.sum("v"))
        .withColumnsRenamed({"x": "p_x", "y": "p_y"})
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes both
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1

    # count agg: NULL pivot values match no branch; rows counted per value
    cnt = pivot_pinned(df, "k", "p", ["x", "y", "z"], "v", agg="count")
    row = {r["k"]: (r["p_x"], r["p_y"], r["p_z"]) for r in cnt.collect()}
    assert row == {"a": (1, 1, 0), "b": (2, 0, 0), "c": (0, 0, 1)}

    # callable agg + custom names
    named = pivot_pinned(
        df, ["k"], "p", ["x"], "v",
        agg=lambda c: F.max(c), out_names=["max_x"],
    )
    assert named.columns == ["k", "max_x"]

    import pytest

    with pytest.raises(ValueError, match="unknown agg"):
        pivot_pinned(df, "k", "p", ["x"], "v", agg="median_ish")
    with pytest.raises(ValueError, match="out_names"):
        pivot_pinned(df, "k", "p", ["x", "y"], "v", out_names=["only_one"])


def test_oov_rate_null_text_and_duplicate_vocab_rows(spark):
    """NULL text behaves as empty (doc appears with one '' token, never
    vanishes); duplicate vocabulary rows must NOT multiply corpus rows
    through the broadcast join."""
    from metalpipe_spark.operators.text import oov_rate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha zzz")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        # 'alpha' listed TWICE — a hand-built vocab with dup rows
        [("alpha",), ("alpha",), ("beta",)], "token string"
    )
    out = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert set(out) == {1, 2, 3}  # NULL-text doc 2 present
    assert (out[1]["n_tokens"], out[1]["oov_tokens"]) == (3, 1)  # dup NOT doubled
    assert (out[2]["n_tokens"], out[2]["oov_tokens"]) == (1, 1)  # one '' token
    assert (out[3]["n_tokens"], out[3]["oov_tokens"]) == (2, 1)
    assert abs(out[3]["oov_rate"] - 0.5) < 1e-12


def test_dsir_weights_tilt_toward_target_distribution(spark):
    """DSIR semantics on a planted corpus: docs made of target-heavy
    tokens must outweigh docs of raw-only tokens; weights are additive
    in gram counts; every doc (NULL text included) gets a row; and the
    YAML nodes wire end to end."""
    from metalpipe_spark.operators.curation import (
        dsir_importance_weights,
        dsir_topk_sample,
    )

    # target speaks 'sci' words; raw background speaks 'web' words
    corpus = spark.createDataFrame(
        [
            (1, "sci sci sci sci"),
            (2, "sci sci web web"),
            (3, "web web web web"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "sci sci sci sci sci sci")], "doc_id long, text string"
    )
    w = {
        r["doc_id"]: r
        for r in dsir_importance_weights(
            corpus, target, buckets=64, exact=True
        ).collect()
    }
    assert set(w) == {1, 2, 3, 4}                      # NULL-text doc present
    assert w[1]["log_weight"] > w[2]["log_weight"] > w[3]["log_weight"]
    assert w[1]["n_grams"] == 7                        # 4 unigrams + 3 bigrams
    assert w[4]["n_grams"] == 1                        # one '' unigram

    # NOTE: the NULL-text doc (one near-neutral '' gram) can outrank a
    # doc full of strongly-raw grams — the importance is a SUM over
    # gram occurrences (the paper's likelihood ratio), not a mean, so
    # short docs have small |weight|.  Select among the real-text docs.
    top = dsir_topk_sample(corpus, spark.createDataFrame(
        [(i, r["log_weight"]) for i, r in w.items() if i != 4],
        "doc_id long, log_weight double",
    ), 2)
    assert sorted(r["doc_id"] for r in top.collect()) == [1, 2]
    assert "dsir_log_weight" in top.columns


def test_dsir_nodes_yaml(spark, tmp_path):
    from metalpipe_spark.plans.pipeline import compile_pipeline

    spark.createDataFrame(
        [(1, "aa aa"), (2, "bb bb")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/c")
    spark.createDataFrame(
        [(9, "aa aa aa")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/t")
    config = {
        "nodes": {
            "c": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/c"}},
            "t": {"class": "ParquetReader", "options": {"path": f"{tmp_path}/t"}},
            "w": {"class": "DSIRWeights", "options": {"buckets": 32}},
            "pick": {"class": "DSIRSample", "options": {"k": 1}},
        },
        "paths": [["c", "w"], ["t", "w"], ["c", "pick"], ["w", "pick"]],
    }
    p = compile_pipeline(spark, config)
    picked = p.dataframes["pick"].collect()
    assert [r["doc_id"] for r in picked] == [1]  # the target-like doc


def test_perplexity_buckets_semantics_and_approx_twin(spark):
    """Head = most LM-natural third; boundary docs are deterministic
    (disc thresholds are data values); the approx twin produces the
    same buckets on a small distribution."""
    from metalpipe_spark.operators.text import perplexity_buckets

    lm = {"a a": -1.0, "b b": -4.0}
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "a a b"), (3, "b b b"), (4, "zz zz zz")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bucket"] for r in
           perplexity_buckets(docs, lm, exact=True).collect()}
    # scores: 1 -> -1.0, 2 -> (-1-8)/2=-4.5, 3 -> -4.0, 4 -> -8.0
    assert out[1] == "head"
    assert out[3] == "middle"
    assert out[4] == "tail"
    ap = {r["doc_id"]: r["bucket"] for r in
          perplexity_buckets(docs, lm, exact=True, approx=True).collect()}
    assert ap[1] == "head" and ap[4] == "tail"


def test_dsir_gumbel_resampling_reproducible_and_weight_tilted(spark):
    """Gumbel-top-k: same seed reproduces the sample exactly (any
    partitioning); different seeds vary it; heavier weights are
    included more often across seeds."""
    from metalpipe_spark.operators.curation import dsir_topk_sample

    docs = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    # docs 0-9 heavy (+3 log-weight), rest light
    weights = spark.createDataFrame(
        [(i, 3.0 if i < 10 else 0.0) for i in range(100)],
        "doc_id long, log_weight double",
    )
    pick = lambda seed, d=docs: sorted(
        r["doc_id"]
        for r in dsir_topk_sample(d, weights, 20, temperature=1.0, seed=seed).collect()
    )
    s0, s0b, s1 = pick(0), pick(0, docs.repartition(7)), pick(1)
    assert s0 == s0b and len(s0) == 20       # reproducible, k respected
    assert s0 != s1                          # seed actually perturbs
    heavy0 = sum(1 for i in s0 if i < 10)
    heavy1 = sum(1 for i in s1 if i < 10)
    # e^3 ~ 20x tilt: expect nearly all heavy docs in every draw
    assert heavy0 >= 8 and heavy1 >= 8


def test_perplexity_buckets_null_text_and_tercile_boundary(spark):
    """NULL-text docs score at the OOV floor and appear (the repo's
    NULL-text contract — the LM oracle coalesces identically); a corpus
    size divisible by 3 exercises the disc-percentile step boundary the
    shared fraction literals pin."""
    import duckdb

    from metalpipe_spark.catalog import load_all

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'batch part spark line'), (2, NULL), (3, 'order small sort'), "
        "(4, 'group fast batch'), (5, 'value filter'), (6, 'spark agg')"
        ") AS t(doc_id, text)"
    )
    q = load_all()["q_ccnet_buckets"]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "batch part spark line"), (2, None), (3, "order small sort"),
             (4, "group fast batch"), (5, "value filter"), (6, "spark agg")],
            "doc_id long, text string",
        ).write.parquet(f"{d}/documents.parquet")
        got = sorted(
            (r["doc_id"], r["mean_logprob"], r["bucket"])
            for r in q.build(spark, d).collect()
        )
    want = sorted(
        (int(r[0]), float(r[1]), r[2]) for r in con.execute(q.oracle).fetchall()
    )
    assert len(got) == 6  # NULL-text doc present on BOTH sides
    assert got == want


def test_dsir_incremental_matches_full_and_folds_batches(spark):
    """Single-batch incremental DSIR == the full-corpus computation
    (the store folds BEFORE scoring); two batches produce the same
    final store as one; the store stays <= buckets rows."""
    from metalpipe_spark.operators.curation import (
        dsir_importance_weights,
        dsir_incremental_weights,
        dsir_target_counts,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common token{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "w1 w1 common common")], "doc_id long, text string"
    )
    tc = dsir_target_counts(target, buckets=64)

    full = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_importance_weights(
            corpus, target, buckets=64, exact=True
        ).collect()
    }
    w1, store1 = dsir_incremental_weights(corpus, None, tc, buckets=64, exact=True)
    got = {r["doc_id"]: (r["n_grams"], r["log_weight"]) for r in w1.collect()}
    assert got == full

    # two batches fold to the same store as one
    b1 = corpus.where("doc_id < 20")
    b2 = corpus.where("doc_id >= 20")
    _, s_a = dsir_incremental_weights(b1, None, tc, buckets=64, exact=True)
    _, s_b = dsir_incremental_weights(b2, s_a, tc, buckets=64, exact=True)
    one = sorted(map(tuple, store1.collect()))
    two = sorted(map(tuple, s_b.collect()))
    assert one == two
    assert len(one) <= 64


def test_tune_lsh_bands_scurve_properties():
    """The tuner returns a valid divisor pair whose S-curve transitions
    near the threshold, and the fp/fn weights steer band width the
    documented way."""
    import pytest

    from metalpipe_spark.operators.dedup import tune_lsh_bands

    b, r = tune_lsh_bands(0.5, 16)
    assert b * r == 16 and b >= 1 and r >= 1
    p = lambda s, b=b, r=r: 1 - (1 - s**r) ** b
    assert p(0.2) < 0.35 and p(0.8) > 0.65    # transitions around 0.5

    # recall-heavy weighting never yields WIDER bands (r can only drop)
    b_recall, r_recall = tune_lsh_bands(0.5, 16, fp_weight=0.05, fn_weight=0.95)
    assert r_recall <= r
    # precision-heavy weighting never yields NARROWER bands
    b_prec, r_prec = tune_lsh_bands(0.5, 16, fp_weight=0.95, fn_weight=0.05)
    assert r_prec >= r

    # higher threshold -> wider bands (more rows per band)
    _, r_hi = tune_lsh_bands(0.9, 16)
    _, r_lo = tune_lsh_bands(0.1, 16)
    assert r_hi > r_lo

    with pytest.raises(ValueError):
        tune_lsh_bands(1.5, 16)
    with pytest.raises(ValueError):
        tune_lsh_bands(0.5, 1)


def test_dsir_xxhash_production_path(spark):
    """bucket_hash='xxhash64' (the JVM-speed production path) keeps the
    DSIR semantics: every doc weighted, weights tilt toward the target,
    incremental fold still equals the full computation."""
    import pytest

    from metalpipe_spark.operators.curation import (
        dsir_importance_weights,
        dsir_incremental_weights,
        dsir_target_counts,
    )

    corpus = spark.createDataFrame(
        [(1, "sci sci sci sci"), (2, "sci sci web web"), (3, "web web web web")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(9, "sci sci sci")], "doc_id long, text string"
    )
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_importance_weights(
            corpus, target, buckets=64, bucket_hash="xxhash64"
        ).collect()
    }
    assert set(w) == {1, 2, 3} and w[1] > w[2] > w[3]

    tc = dsir_target_counts(target, buckets=64, bucket_hash="xxhash64")
    inc, _ = dsir_incremental_weights(
        corpus, None, tc, buckets=64, bucket_hash="xxhash64"
    )
    got = {r["doc_id"]: r["log_weight"] for r in inc.collect()}
    assert all(abs(got[i] - w[i]) < 1e-9 for i in (1, 2, 3))

    with pytest.raises(ValueError, match="bucket_hash"):
        dsir_importance_weights(corpus, target, buckets=64, bucket_hash="sha1")


def test_minhash_lsh_threshold_autotunes_bands(spark):
    """threshold= picks the tuner's banding and still finds the planted
    near-dup pair."""
    from metalpipe_spark.operators.dedup import minhash_lsh_pairs, tune_lsh_bands

    A = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, A), (2, A + " tail extra"), (3, "completely different words here")],
        ["doc_id", "text"],
    )
    out = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert any((r["d1"], r["d2"]) == (1, 2) for r in out)
    b, r = tune_lsh_bands(0.5, 16)
    assert b * r == 16  # the override really routed through the tuner


def test_duplicate_span_dedup_validates_parameters(spark):
    """ADVICE r12: guaranteed_gap=0 used to build an inverted window
    frame (rowsBetween(1, 0)) whose analysis error names nothing the
    caller typed — the contract check must fire first, and the other
    size parameters get the same treatment."""
    from metalpipe_spark.operators.dedup import duplicate_span_dedup

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="guaranteed_gap"):
        duplicate_span_dedup(docs, guaranteed_gap=0)
    with pytest.raises(ValueError, match="guaranteed_gap"):
        duplicate_span_dedup(docs, guaranteed_gap=-3)
    with pytest.raises(ValueError, match="window"):
        duplicate_span_dedup(docs, window=0)
    with pytest.raises(ValueError, match="anchor_stride"):
        duplicate_span_dedup(docs, anchor_stride=0)


def test_histogram_quantiles_within_one_bin_width(spark):
    """Histogram-sketch contract: every quantile estimate lands within
    one bin width of Spark's exact percentile when the exact quantile
    is inside [lo, hi), for both a uniform-ish and a skewed column."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import histogram_sketch_quantiles

    df = spark.range(1, 5001).select(
        (F.col("id") % 3).alias("g"),
        # skewed-ish deterministic values in [0, 500)
        ((F.col("id") * F.col("id")) % 500).cast("double").alias("x"),
    )
    bins, lo, hi = 50, 0.0, 500.0
    width = (hi - lo) / bins
    qs = (0.1, 0.5, 0.9, 0.99)
    est = {
        (r["g"], r["q"]): r["est"]
        for r in histogram_sketch_quantiles(
            df, "x", lo, hi, qs=qs, bins=bins, group_cols=["g"]
        ).collect()
    }
    exact = {
        (r["g"], q): r[f"p{i}"]
        for r in df.groupBy("g")
        .agg(
            *[
                F.expr(f"percentile(x, {q})").alias(f"p{i}")
                for i, q in enumerate(qs)
            ]
        )
        .collect()
        for i, q in enumerate(qs)
    }
    assert len(est) == 12
    for key, e in est.items():
        assert abs(e - exact[key]) <= width + 1e-9, (key, e, exact[key])


def test_histogram_merge_equals_whole_and_refuses_mixed_geometry(spark):
    """Shard registers sum to the whole-data registers (the mergeable
    contract), and tables with different bin geometries refuse to merge
    (the Bloom/HLL mismatch-proofing discipline)."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_registers,
    )

    df = spark.range(2000).select((F.col("id") % 997).cast("double").alias("x"))
    shards = [
        histogram_registers(df.where(f"id % 3 = {i}"), "x", 0.0, 1000.0, bins=40)
        for i in range(3)
    ]
    merged = histogram_merge(shards[0].unionByName(shards[1]).unionByName(shards[2]))
    whole = histogram_registers(df, "x", 0.0, 1000.0, bins=40)
    assert (
        merged.select("__b", "__n").exceptAll(whole.select("__b", "__n")).count()
        == 0
    )
    assert merged.count() == whole.count()
    # quantiles from merged registers == quantiles from the whole data
    qm = histogram_quantiles(merged).collect()
    qw = histogram_quantiles(whole).collect()
    assert [(r["q"], r["est"]) for r in qm] == [(r["q"], r["est"]) for r in qw]
    other = histogram_registers(df, "x", 0.0, 1000.0, bins=41)
    with pytest.raises(ValueError, match="mixed"):
        histogram_merge(shards[0].unionByName(other)).collect()


def test_histogram_clamps_validation_and_log_scale(spark):
    """Out-of-range values land in the under/overflow bins and clamp
    estimates to lo/hi; bad geometry raises; log scale bins by ratio
    (estimates within one log-bin of exact) and stays partition-
    independent."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import (
        histogram_registers,
        histogram_sketch_quantiles,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (1.0,), (2.0,), (1e9,)], "x double"
    )
    regs = histogram_registers(df, "x", 1.0, 10.0, bins=4)
    by_bin = {r["__b"]: r["__n"] for r in regs.collect()}
    assert by_bin[0] == 2 and by_bin[5] == 1  # underflow, overflow
    qs = histogram_sketch_quantiles(df, "x", 1.0, 10.0, qs=(0.01, 0.999), bins=4)
    vals = {r["q"]: r["est"] for r in qs.collect()}
    assert vals[0.01] == 1.0 and vals[0.999] == 10.0  # clamped to edges
    with pytest.raises(ValueError, match="hi > lo"):
        histogram_registers(df, "x", 5.0, 5.0)
    with pytest.raises(ValueError, match="lo > 0"):
        histogram_registers(df, "x", 0.0, 10.0, scale="log")
    with pytest.raises(ValueError, match="scale"):
        histogram_registers(df, "x", 1.0, 10.0, scale="sqrt")
    # log scale: 1..10^6, exact decade values; p50 within one ratio-bin
    ldf = spark.range(1, 1001).select(
        F.pow(F.lit(10.0), (F.col("id") % 7).cast("double")).alias("x")
    )
    got = histogram_sketch_quantiles(
        ldf, "x", 1.0, 1e7, qs=(0.5,), bins=14, group_cols=None, scale="log"
    ).collect()
    exact = ldf.selectExpr("percentile(x, 0.5) p").collect()[0]["p"]
    # one log-bin at 14 bins over 7 decades = half a decade: ratio sqrt(10)
    assert got[0]["est"] / exact <= 10**0.5 + 1e-6
    assert exact / got[0]["est"] <= 10**0.5 + 1e-6
    g1 = histogram_sketch_quantiles(
        ldf, "x", 1.0, 1e7, qs=(0.5,), bins=14, scale="log"
    ).collect()[0]["est"]
    g2 = histogram_sketch_quantiles(
        ldf.repartition(13), "x", 1.0, 1e7, qs=(0.5,), bins=14, scale="log"
    ).collect()[0]["est"]
    assert g1 == g2


def test_exact_quantile_matches_sorted_definition(spark):
    """exact_quantile returns the literal element at rank ceil(q*n) for
    uniform, skewed, negative, and ties-heavy data — including q=0 and
    q=1 — and validates its inputs."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import exact_quantile

    df = spark.range(1, 4001).select(
        (F.col("id") % 2).alias("g"),
        # mixed-sign, heavy-tail-ish deterministic doubles
        (((F.col("id") * 37) % 2003) - 1001.0).alias("x"),
    )
    qs = (0.0, 0.25, 0.5, 0.99, 1.0)
    got = {
        (r["g"], r["q"]): r["value"]
        for r in exact_quantile(df, "x", qs=qs, group_cols=["g"]).collect()
    }
    pdf = df.toPandas()
    for g in (0, 1):
        xs = sorted(pdf[pdf.g == g].x)
        for q in qs:
            want = xs[max(1, math.ceil(q * len(xs))) - 1]
            assert got[(g, q)] == want, (g, q)
    # all-ties group terminates immediately with the tied value
    tied = spark.range(1000).select(F.lit(5.5).alias("x"))
    [r] = exact_quantile(tied, "x", qs=(0.5,)).collect()
    assert r["value"] == 5.5
    with pytest.raises(ValueError, match="at least one"):
        exact_quantile(df, "x", qs=())
    with pytest.raises(ValueError, match="0, 1"):
        exact_quantile(df, "x", qs=(1.5,))


def test_exact_quantile_no_shuffle_of_data_rows(spark):
    """The selection never sorts or shuffles the data: no Sort and no
    row Exchange appears in any job's plan (bin counts are map-side
    partials; the only wide op is the tiny groupBy whose output is
    groups x bins)."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import exact_quantile

    df = spark.range(100_000).select(
        ((F.col("id") * 7919) % 104729).cast("double").alias("x")
    )
    out = exact_quantile(df, "x", qs=(0.5,))
    [r] = out.collect()
    # sanity: rank-50000 element of the permuted sequence is exact
    import math
    want = sorted(((i * 7919) % 104729) for i in range(100_000))[
        max(1, math.ceil(0.5 * 100_000)) - 1
    ]
    assert r["value"] == float(want)


def test_corpus_diff_classifies_all_transitions(spark):
    """corpus_diff: added/removed/changed/unchanged over id-keyed
    snapshots; multi-column content identity is NULL-safe (a NULL
    column differs from the string concatenation that would collide
    with it)."""
    from metalpipe_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "z"), (4, "d", "w")],
        "doc_id long, text string, meta string",
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "bNULL", ""), (3, "c2", "z"), (5, "e", "v")],
        "doc_id long, text string, meta string",
    )
    got = {
        r["doc_id"]: r["change"]
        for r in corpus_diff(
            old, new, content_cols=("text", "meta")
        ).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",  # (b, NULL) != (bNULL, '') — the null marker holds
        3: "changed",
        4: "removed",
        5: "added",
    }


def test_edit_distance_join_exact_vs_bruteforce(spark):
    """The SymSpell-blocked fuzzy join returns EXACTLY the brute-force
    pair set at k=1 and k=2 (the pigeonhole guarantee), handles empty
    strings and duplicates, and the bucket cap knob only ever drops
    pairs (never invents them)."""
    import itertools

    import pytest

    from metalpipe_spark.operators.joins import edit_distance_join

    rows = [
        (1, "kitten"), (2, "sitten"), (3, "sitting"), (4, "mitten"),
        (5, "kitten"), (6, "abc"), (7, "xyz"), (8, ""), (9, "ab"),
        (10, "kittens"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
                prev = cur
        return dp[-1]

    for k in (1, 2):
        want = sorted(
            (a[0], b[0])
            for a, b in itertools.combinations(rows, 2)
            if lev(a[1], b[1]) <= k
        )
        got = sorted(
            (r["id1"], r["id2"])
            for r in edit_distance_join(df, "name", max_edits=k).collect()
        )
        assert got == want, k
    capped = edit_distance_join(df, "name", max_edits=1, max_bucket_size=2)
    full = edit_distance_join(df, "name", max_edits=1)
    got_c = {(r["id1"], r["id2"]) for r in capped.collect()}
    got_f = {(r["id1"], r["id2"]) for r in full.collect()}
    assert got_c <= got_f
    # Both self-join sides read the variant checkpoint, not two explode
    # subtrees.
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    with pytest.raises(ValueError, match="max_edits"):
        edit_distance_join(df, "name", max_edits=0)


def test_exact_quantile_null_group_and_bins_guard(spark):
    """A NULL group key is a real group (NULL-safe range join), and
    bins < 2 is rejected up front instead of burning max_iters scans."""
    import pytest

    from metalpipe_spark.operators.sketches import exact_quantile

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 10.0), (None, 30.0)],
        "g string, x double",
    )
    got = {
        (r["g"], r["q"]): r["value"]
        for r in exact_quantile(df, "x", qs=(0.5,), group_cols=["g"]).collect()
    }
    assert got == {("a", 0.5): 2.0, (None, 0.5): 10.0}
    with pytest.raises(ValueError, match="bins"):
        exact_quantile(df, "x", bins=1)


def test_histogram_quantiles_empty_input_and_geometry_passthrough(spark):
    """Empty register tables (and merges of them) yield a typed empty
    result instead of crashing on the NULL geometry marker; the
    sketch-then-estimate path produces identical estimates with the
    geometry passed through (no marker re-discovery)."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_registers,
        histogram_sketch_quantiles,
    )

    empty = spark.createDataFrame([], "g string, x double")
    regs = histogram_registers(empty, "x", 0.0, 10.0, bins=4, group_cols=["g"])
    out = histogram_quantiles(regs, group_cols=["g"])
    assert out.count() == 0 and out.columns == ["g", "q", "est"]
    merged = histogram_merge(regs, group_cols=["g"])
    assert histogram_quantiles(merged, group_cols=["g"]).count() == 0
    df = spark.range(100).select((F.col("id") % 50).cast("double").alias("x"))
    via_sketch = histogram_sketch_quantiles(df, "x", 0.0, 50.0, bins=10)
    via_marker = histogram_quantiles(
        histogram_registers(df, "x", 0.0, 50.0, bins=10)
    )
    assert sorted(map(tuple, via_sketch.collect())) == sorted(
        map(tuple, via_marker.collect())
    )


def test_count_min_heavy_hitters_exact_and_filtering(spark):
    """Heavy hitters are EXACT (equal to plain groupBy-having) on a
    skew corpus, and the sketch probe genuinely filters: the exact
    aggregate's input is a sliver of the rows (verified by the
    candidate row count), never the full vocabulary."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import count_min_heavy_hitters

    df = spark.range(50_000).select(
        F.when(F.col("id") % 50 < 2, F.lit("hot_a"))
        .when(F.col("id") % 50 < 3, F.lit("hot_b"))
        .otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 20_000).cast("string"))
        )
        .alias("tok")
    )
    got = sorted(
        map(tuple, count_min_heavy_hitters(df, "tok", threshold=500).collect())
    )
    want = sorted(
        map(tuple, df.groupBy("tok").count().where("count >= 500").collect())
    )
    assert got == [(t, c) for t, c in want] and len(got) == 2
    with pytest.raises(ValueError, match="threshold"):
        count_min_heavy_hitters(df, "tok", threshold=0)


def test_count_min_heavy_hitters_ignores_nulls(spark):
    """NULL values must not crash the sketch probe (md5(NULL) hashes to
    a NULL bucket — ADVICE r13) and can never appear as a heavy hitter:
    they are excluded before sketching AND probing."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import count_min_heavy_hitters

    df = spark.range(2_000).select(
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("string"))
        .when(F.col("id") % 4 == 1, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("tok")
    )
    got = count_min_heavy_hitters(df, "tok", threshold=100).collect()
    assert [(r["tok"], r["n"]) for r in got] == [("hot", 500)]


def test_exact_substr_dedup_offset_robust_and_keep_first(spark):
    """The exact face: a run duplicated at a DIFFERENT offset is fully
    stripped from the later doc; the first occurrence and unrelated
    text survive untouched; fully-covered docs disappear."""
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    run = " ".join(f"r{i}" for i in range(10))
    rows = [
        (1, run),                      # first occurrence: kept whole
        (2, "u1 u2 u3 " + run),        # shifted copy: run stripped
        (3, run),                      # nothing unique: disappears
        (4, "v1 v2 v3 v4"),            # unrelated: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in exact_substr_dedup(df, min_length=6).collect()
    }
    assert got == {
        1: (run, 10),
        2: ("u1 u2 u3", 3),
        4: ("v1 v2 v3 v4", 4),
    }


def test_exact_substr_dedup_verify_and_hash_knobs_agree(spark):
    """verify=False (pure rolling-hash grouping) and the xxhash64
    production knob produce identical output to the verified md5
    default on a mixed corpus."""
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(25)))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return sorted(
            map(tuple, exact_substr_dedup(df, min_length=5, **kw).collect())
        )

    base = run()
    assert run(verify=False) == base
    assert run(hash="xxhash64") == base
    assert base  # the modular vocab guarantees duplicates exist


def test_exact_substr_dedup_validations(spark):
    import pytest

    from metalpipe_spark.operators.dedup import exact_substr_dedup

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_length"):
        exact_substr_dedup(df, min_length=0)
    with pytest.raises(ValueError, match="hash"):
        exact_substr_dedup(df, hash="sha1")
    # NULL text and docs shorter than the window pass through whole.
    short = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, exact_substr_dedup(short, min_length=8).collect())
    )
    assert got == [(1, "", 1), (2, "a b c", 3)]


def test_count_min_heavy_hitters_probe_forms_agree(spark):
    """The broadcast-join probe equals the literal-array probe exactly
    (same skew corpus), and the auto switch picks broadcast once
    depth*width crosses the compile-floor threshold."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.sketches import count_min_heavy_hitters

    df = spark.range(30_000).select(
        F.when(F.col("id") % 40 < 2, F.lit("hot_a"))
        .when(F.col("id") % 40 < 3, F.lit("hot_b"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 9_000).cast("string")))
        .alias("tok")
    )

    def run(**kw):
        return sorted(
            map(
                tuple,
                count_min_heavy_hitters(df, "tok", threshold=400, **kw).collect(),
            )
        )

    lit_form = run(probe="literal")
    assert run(probe="broadcast") == lit_form and len(lit_form) == 2
    # auto: small geometry -> literal path (no join in the plan); big
    # geometry -> broadcast joins appear.  The default 4x1024 geometry
    # sits ABOVE the r17 auto cutoff (2048: the literal path's
    # analysis/codegen floor dominated the row at 4x1024 in the
    # interleaved A/B), so "small" here pins an explicitly tiny sketch.
    small = count_min_heavy_hitters(df, "tok", threshold=400, width=256)
    big = count_min_heavy_hitters(
        df, "tok", threshold=400, depth=4, width=8192
    )
    assert "Join" not in small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in big._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, big.collect())) == lit_form
    with pytest.raises(ValueError, match="probe"):
        count_min_heavy_hitters(df, "tok", threshold=400, probe="join")


def test_scalar_quantization_roundtrip_and_geometry_guard(spark):
    """SQ codes stay within bits, reconstruction error is bounded by
    half a step, geometry rides with the frame (decode never takes
    parameters), and degenerate/invalid ranges behave."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.pq import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") * 0.1 - 2.0),
            (F.col("id") * -0.05 + 1.0),
            F.lit(0.0),
        ).alias("embedding"),
    )
    q = quantize_embeddings(df, bits=8)
    assert {"codes", "q_lo", "q_hi", "q_bits"} <= set(q.columns)
    deq = dequantize_embeddings(q)
    rows = deq.collect()
    lo, hi = rows[0]["q_lo"], rows[0]["q_hi"]
    step = (hi - lo) / 255
    for r in rows:
        for v, c, vh in zip(r["embedding"], r["codes"], r["dequantized"]):
            assert 0 <= c <= 255
            assert abs(v - vh) <= step / 2 + 1e-12
    # explicit range clamps out-of-range values instead of wrapping
    q2 = quantize_embeddings(df, bits=4, lo=-1.0, hi=1.0)
    for r in q2.collect():
        assert all(0 <= c <= 15 for c in r["codes"])
    # degenerate range: all-zero codes, no divide-by-zero
    const = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(2.5), F.lit(2.5)).alias("embedding"),
    )
    assert all(
        r["codes"] == [0, 0] for r in quantize_embeddings(const).collect()
    )
    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(df, bits=0)
    with pytest.raises(ValueError, match="both lo and hi"):
        quantize_embeddings(df, lo=0.0)
    with pytest.raises(ValueError, match="hi"):
        quantize_embeddings(df, lo=1.0, hi=0.0)
    with pytest.raises(ValueError, match="missing column"):
        dequantize_embeddings(df)


def test_scalar_quantization_propagates_null_elements(spark):
    """A NULL array element must encode as a NULL code (Spark's
    least/greatest skip nulls, which would otherwise fabricate the MAX
    code) and decode back to NULL."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.pq import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, None, 1.0])],
        "vec_id long, embedding array<double>",
    )
    r = dequantize_embeddings(quantize_embeddings(df, bits=8)).first()
    assert r["codes"] == [0, None, 255]
    assert r["dequantized"][1] is None


def test_incremental_exact_substr_store_semantics_and_guards(spark):
    """Store hits cover batch windows (the batch keeps only unseen
    text), the updated store grows by the batch's new firsts, and the
    geometry/hash markers refuse mismatched stores."""
    import pytest

    from metalpipe_spark.operators.dedup import incremental_exact_substr

    run = " ".join(f"r{i}" for i in range(6))
    b1 = spark.createDataFrame([(1, run)], "doc_id long, text string")
    clean1, store = incremental_exact_substr(b1, None, min_length=4)
    assert clean1.first()["clean_text"] == run  # first sight: untouched
    store = store.persist()
    assert store.count() == 3  # 6 tokens -> 3 distinct 4-windows
    b2 = spark.createDataFrame(
        [(2, "u1 u2 " + run), (3, run)], "doc_id long, text string"
    )
    clean2, store2 = incremental_exact_substr(b2, store, min_length=4)
    got = {r["doc_id"]: r["clean_text"] for r in clean2.collect()}
    assert got == {2: "u1 u2"}  # 3 fully covered -> disappears
    # new firsts: windows straddling the u1/u2 prefix in doc 2
    assert store2.count() > store.count()
    with pytest.raises(ValueError, match="geometry"):
        incremental_exact_substr(b2, store, min_length=5)
    with pytest.raises(ValueError, match="geometry"):
        incremental_exact_substr(b2, store, min_length=4, hash="xxhash64")
    with pytest.raises(ValueError, match="missing columns"):
        incremental_exact_substr(b2, b1, min_length=4)
    with pytest.raises(ValueError, match="min_length"):
        incremental_exact_substr(b2, None, min_length=0)


def test_split_oversized_cells_semantics_and_centroids(spark):
    """Two-seed split: members join the nearer seed, child ids extend
    the cell space, new-cell centroids are the exact member means, and
    undersized/degenerate cells are untouched."""
    import pytest
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.similarity import (
        rebalance_cells,
        split_oversized_cells,
    )

    rows = (
        # cell 0: two clumps -> must split cleanly
        [(i, [0.0 + i * 0.01, 0.0], 0) for i in range(4)]
        + [(10 + i, [100.0 + i * 0.01, 0.0], 0) for i in range(4)]
        # cell 1: under cap -> untouched
        + [(100, [5.0, 5.0], 1)]
        # cell 2: identical vectors -> cannot split, must not loop
        + [(200 + i, [7.0, 7.0], 2) for i in range(5)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    re, new = split_oversized_cells(df, max_cell_size=4)
    cells = {r["vec_id"]: r["cell"] for r in re.collect()}
    # seed A = vec 0 (min id); seed B = farthest = one of the 100.x
    # clump; the clumps separate exactly
    assert {cells[i] for i in range(4)} == {0}
    far_cell = {cells[10 + i] for i in range(4)}
    assert far_cell != {0} and len(far_cell) == 1
    assert cells[100] == 1
    assert {cells[200 + i] for i in range(5)} == {2}  # degenerate: stays
    info = {r["cell"]: r for r in new.collect()}
    child = far_cell.pop()
    assert info[child]["parent"] == 0 and info[child]["n"] == 4
    # exact mean of the far clump (the operator sums in DECIMAL, so the
    # expected value is the exact-arithmetic mean, not a float-sum mean)
    from decimal import Decimal

    exact = float(
        sum(Decimal("100.0") + Decimal(repr(0.01)) * i for i in range(4)) / 4
    )
    assert abs(info[child]["centroid"][0] - 100.015) < 1e-9
    assert abs(info[child]["centroid"][0] - exact) < 1e-9
    with pytest.raises(ValueError, match="max_cell_size"):
        split_oversized_cells(df, max_cell_size=0)

    # rebalance loops until every splittable cell fits
    reb, newc = rebalance_cells(df, max_cell_size=2)
    sizes = {
        r["cell"]: r["n"]
        for r in reb.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for c, n in sizes.items():
        if c != 2:  # the identical-vector cell legitimately cannot split
            assert n <= 2, (c, n)
    assert sizes[2] == 5
    assert reb.count() == df.count()


def test_rebalance_stuck_cells_stop_resplitting(spark):
    """r16 advice: once a cell is detected as unsplittable (identical
    vectors — its size never changes through a split round), it must be
    EXCLUDED from later split rounds instead of burning a child id and
    re-splitting every round while other cells converge.  Pinned by (a)
    no new_cells row ever naming the stuck cell as parent, and (b) the
    allocated child ids staying CONTIGUOUS — the pre-fix loop left an
    id gap per wasted round."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.similarity import rebalance_cells

    rows = (
        # cell 2: five identical vectors — stuck forever
        [(200 + i, [7.0, 7.0], 2) for i in range(5)]
        # cell 0: a 16-vector line needing several rounds at cap 2
        + [(i, [float(i), 0.0], 0) for i in range(16)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    reb, newc = rebalance_cells(df, max_cell_size=2, max_rounds=10)
    made = sorted(
        (r["cell"], r["parent"], r["n"]) for r in newc.collect()
    )
    assert all(parent != 2 for _, parent, _ in made), made
    child_ids = [c for c, _, _ in made]
    assert child_ids == list(range(3, 3 + len(child_ids))), made
    sizes = {
        r["cell"]: r["n"]
        for r in reb.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes[2] == 5  # stuck cell intact
    assert all(n <= 2 for c, n in sizes.items() if c != 2), sizes
    assert reb.count() == df.count()


def test_split_oversized_cells_idempotent_and_search_parity(spark):
    """r14 advice/verdict property pair: (a) splitting an
    already-compliant index is a no-op; (b) searching through the
    descendant probe (ivf_search_split) after a split returns EXACTLY
    the unsplit index's 1-probe top-k — maintenance preserves serving
    results, not just recall."""
    from pyspark.sql import functions as F

    from metalpipe_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign_literal,
        ivf_search_prebuilt,
        ivf_search_split,
        split_oversized_cells,
    )

    cents = deterministic_centroids(3, 8)
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = ivf_assign_literal(emb, cents).select(
        "vec_id", "embedding", "cell"
    )

    # (a) idempotence: with the cap above every cell size, nothing moves
    # and no child ids are allocated.
    re0, new0 = split_oversized_cells(assigned, max_cell_size=1000)
    assert new0.count() == 0
    assert (
        re0.select("vec_id", "cell").exceptAll(
            assigned.select("vec_id", "cell")
        ).count()
        == 0
    )

    # (b) parity: split with a cap that forces movement, then serve.
    re1, new1 = split_oversized_cells(assigned, max_cell_size=15)
    assert new1.count() > 0  # the fixture must actually split
    moved = (
        re1.select("vec_id", "cell")
        .exceptAll(assigned.select("vec_id", "cell"))
        .count()
    )
    assert moved > 0
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in ivf_search_split((re1, new1, cents), qs, k=4).collect()
    }
    want = {
        (r["query_id"], r["rnk"]): r["vec_id"]
        for r in ivf_search_prebuilt(
            (assigned, cents), qs, k=4, n_probe=1
        ).collect()
    }
    assert got == want


def test_exact_substr_verify_rejects_injected_hash_collisions(spark):
    """r14 verdict task 6: force real rolling-hash collisions (tiny
    override moduli make them abundant) and prove the content-verify
    stage rejects every one — output identical to the true-duplicate
    answer — while verify=False under the same collisions DOES
    false-delete, proving the injection actually produced colliding
    candidates."""
    from metalpipe_spark.operators.dedup import exact_substr_dedup

    TINY = [(3, 11), (5, 13)]  # window identity space = 11*13 = 143
    # 40 docs of 8 distinct tokens each, no L=4 run repeated anywhere;
    # >= 40*5 windows into 143 buckets guarantees cross-doc collisions.
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(8))) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    clean = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substr_dedup(df, min_length=4, _rk=TINY).collect()
    }
    assert clean == dict(rows)  # nothing removed: every collision rejected

    # Same moduli, no verify: collisions masquerade as duplicates and
    # tokens disappear — the stage under test is load-bearing.
    unverified = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substr_dedup(
            df, min_length=4, _rk=TINY, verify=False
        ).collect()
    }
    assert unverified != dict(rows)

    # And with true duplicates present, verify under collisions still
    # returns exactly the real-moduli answer.
    dup_rows = rows + [(100, rows[0][1]), (101, rows[1][1])]
    ddf = spark.createDataFrame(dup_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substr_dedup(ddf, min_length=4, _rk=TINY).collect()
    }
    want = {
        r["doc_id"]: r["clean_text"]
        for r in exact_substr_dedup(ddf, min_length=4).collect()
    }
    assert got == want


def test_incremental_exact_substr_store_parquet_roundtrip(spark, tmp_path):
    """The window store must survive a parquet write/read across
    sessions-in-spirit: dedup against the RELOADED store equals dedup
    against the live one (dual-stream hash quads and '/ds2' geometry
    markers are plain columns — nothing closure-bound)."""
    from metalpipe_spark.operators.dedup import incremental_exact_substr

    run = "w0 w1 w2 w3"
    b1 = spark.createDataFrame(
        [(0, f"{run} a0 a1"), (1, "b0 b1 b2 b3 b4")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, f"c0 {run}"), (3, "d0 d1 d2 d3")], "doc_id long, text string"
    )
    _, store = incremental_exact_substr(b1, None, min_length=4)
    path = str(tmp_path / "xs_store")
    store.write.parquet(path)
    reloaded = spark.read.parquet(path)
    live = {
        r["doc_id"]: r["clean_text"]
        for r in incremental_exact_substr(b2, store, min_length=4)[0].collect()
    }
    cold = {
        r["doc_id"]: r["clean_text"]
        for r in incremental_exact_substr(b2, reloaded, min_length=4)[0].collect()
    }
    assert live == cold
    assert cold[2] == "c0"  # the stored run was removed cross-session


def test_train_ngram_lm_matches_hand_counts(spark):
    """Lidstone bigram LM vs hand arithmetic: counts, context sums, V,
    and prob = (c + k)/(ctx + k*V) — including that min_count prunes
    OUTPUT rows without changing surviving denominators."""
    import math

    from metalpipe_spark.operators.text import train_ngram_lm

    # tokens: a a b | a b  -> bigrams: (a a), (a b), (a b); V = {a, b}
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a b")], "doc_id long, text string"
    )
    lm = {
        r["ngram"]: (r["n_count"], r["ctx_count"], r["prob"], r["logprob"])
        for r in train_ngram_lm(df, n=2, k=0.5).collect()
    }
    V = 2
    # context 'a' has 3 continuations total (a a, a b, a b)
    assert lm["a a"][:2] == (1, 3)
    assert lm["a b"][:2] == (2, 3)
    assert lm["a a"][2] == (1 + 0.5) / (3 + 0.5 * V)
    assert lm["a b"][2] == (2 + 0.5) / (3 + 0.5 * V)
    assert lm["a b"][3] == round(math.log10((2 + 0.5) / (3 + 0.5 * V)), 9)
    # min_count prunes output only: 'a a' (count 1) drops, 'a b' keeps
    # the SAME denominator
    pruned = {
        r["ngram"]: r["prob"]
        for r in train_ngram_lm(df, n=2, k=0.5, min_count=2).collect()
    }
    assert set(pruned) == {"a b"} and pruned["a b"] == lm["a b"][2]
    # unigram face: ctx_count = total tokens
    uni = {
        r["ngram"]: (r["n_count"], r["ctx_count"])
        for r in train_ngram_lm(df, n=1, k=0.5).collect()
    }
    assert uni == {"a": (3, 5), "b": (2, 5)}
    import pytest

    with pytest.raises(ValueError, match="n must"):
        train_ngram_lm(df, n=0)
    with pytest.raises(ValueError, match="k must"):
        train_ngram_lm(df, k=0.0)


def test_train_write_load_score_lm_loop(spark, tmp_path):
    """The full CCNet loop closes: train on a target-domain slice,
    write_arpa, load_arpa the artifact back (bit-identical logprobs),
    and perplexity-score a corpus with it — scoring through the
    reloaded file equals scoring through the live table."""
    from metalpipe_spark.operators.text import (
        ngram_logprob,
        perplexity_buckets,
        train_ngram_lm,
        write_arpa,
    )
    from metalpipe_spark.sources.readers import load_arpa

    target = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 3) for i in range(4)]
        + [(9, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(target, n=2)
    path = str(tmp_path / "tiny.arpa")
    n_rows = write_arpa(lm, path, n=2)
    reloaded = load_arpa(spark, path, order=2).select("ngram", "logprob")
    assert reloaded.count() == n_rows == lm.count()
    live = {
        (r["ngram"], r["logprob"])
        for r in lm.select("ngram", "logprob").collect()
    }
    cold = {(r["ngram"], r["logprob"]) for r in reloaded.collect()}
    assert live == cold  # repr() serialization is bit-identical
    corpus = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "zx qy vv"), (2, "the dog sat")],
        "doc_id long, text string",
    )
    a = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob(corpus, lm.select("ngram", "logprob"), n=2).collect()
    }
    b = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob(corpus, reloaded, n=2).collect()
    }
    assert a == b
    assert a[0] > a[1]  # in-domain text scores more natural than junk
    buckets = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(corpus, reloaded, n=2).collect()
    }
    assert buckets[0] == "head" and buckets[1] == "tail"


def test_train_backoff_lm_hand_counts(spark):
    """Absolute-discount Katz backoff, hand-checked: corpus
    'a b c' | 'a b d' | 'b c' at n=2, D=0.75.  Unigrams MLE over 8
    tokens; bigram probs (c - D)/denom(ctx); backoff(ctx) =
    (D*types/denom)/(1 - sum of seen continuations' unigram probs);
    log faces are round(log10, 9) — the libm face pinned here per the
    house rule (the catalog row hash-gates only IEEE-primitive
    ratios)."""
    import math

    import pytest

    from metalpipe_spark.operators.text import train_backoff_lm

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d"), (2, "b c")], ["doc_id", "text"]
    )
    lm = {
        (r["order"], r["ngram"]): r
        for r in train_backoff_lm(docs, n=2, discount=0.75).collect()
    }
    assert len(lm) == 7
    # unigrams: a:2 b:3 c:2 d:1 over 8 tokens
    assert (lm[(1, "a")]["n_count"], lm[(1, "a")]["ctx_count"]) == (2, 8)
    assert lm[(1, "a")]["prob"] == 0.25
    assert lm[(1, "b")]["prob"] == 0.375
    # bigrams: (a b):2 denom(a)=2; (b c):2, (b d):1, denom(b)=3
    assert lm[(2, "a b")]["prob"] == (2.0 - 0.75) / 2.0
    assert lm[(2, "b c")]["prob"] == (2.0 - 0.75) / 3.0
    assert lm[(2, "b d")]["prob"] == (1.0 - 0.75) / 3.0
    # backoffs: b(a) = (0.75*1/2)/(1-p1(b)) = 0.6;
    #           b(b) = (0.75*2/3)/(1-(p1(c)+p1(d))) = 0.8
    assert abs(lm[(1, "a")]["backoff"] - 0.6) < 1e-12
    assert abs(lm[(1, "b")]["backoff"] - 0.8) < 1e-12
    assert lm[(1, "a")]["log_backoff"] == round(
        math.log10(lm[(1, "a")]["backoff"]), 9
    )
    # non-contexts and the top order carry NULL backoff
    assert lm[(1, "c")]["backoff"] is None
    assert lm[(2, "a b")]["backoff"] is None
    assert lm[(2, "a b")]["logprob"] == round(
        math.log10(lm[(2, "a b")]["prob"]), 9
    )
    with pytest.raises(ValueError, match="n >= 2"):
        train_backoff_lm(docs, n=1)
    with pytest.raises(ValueError, match="discount"):
        train_backoff_lm(docs, discount=1.0)
    with pytest.raises(ValueError, match="discount"):
        train_backoff_lm(docs, discount="kneser")
    # discount='ney': per-order D from count-of-counts — bigrams have
    # n1=1 (b d), n2=2 (a b, b c) -> D2 = 1/(1+2*2) = 0.2
    ney = {
        (r["order"], r["ngram"]): r
        for r in train_backoff_lm(docs, n=2, discount="ney").collect()
    }
    assert ney[(2, "a b")]["prob"] == (2.0 - 0.2) / 2.0
    assert ney[(2, "b d")]["prob"] == (1.0 - 0.2) / 3.0
    # b(a) = (0.2*1/2)/(1 - p1(b)) = 0.1/0.625
    assert abs(ney[(1, "a")]["backoff"] - 0.1 / 0.625) < 1e-12


def test_train_kn_lm_hand_counts_and_ney(spark):
    """Interpolated Kneser-Ney hand-check (r16 verdict task 1): doc
    'x y z w y z' at n=3, D=0.5 — continuation counts, the uniform
    1/|V| unigram floor, the cc=0 doc-initial bigram 'x y', its
    denom=0 context pass-through (p = p_lower, backoff 1), gamma
    backoffs, and the log10 faces; plus discount='ney' estimating D
    per level from the CONTINUATION count-of-counts."""
    import math

    import pytest

    from metalpipe_spark.operators.text import train_backoff_lm

    docs = spark.createDataFrame(
        [(0, "x y z w y z")], ["doc_id", "text"]
    )
    lm = {
        (r["order"], r["ngram"]): r
        for r in train_backoff_lm(
            docs, n=3, discount=0.5, smoothing="kn"
        ).collect()
    }
    # order 1: cc from bigram types {x y, y z, z w, w y}: y:2 z:1 w:1
    # x:0 (doc-initial only); V=4, denom=4, types=3, uniform=0.25
    assert (lm[(1, "x")]["n_count"], lm[(1, "y")]["n_count"]) == (0, 2)
    assert lm[(1, "x")]["prob"] == (0.5 * 3 / 4) * 0.25  # pure interp
    assert lm[(1, "y")]["prob"] == (2 - 0.5) / 4 + (0.5 * 3 / 4) * 0.25
    assert (
        sum(lm[(1, w)]["prob"] for w in "xyzw") == 1.0
    )  # exact conservation
    # order 2: cc from trigram suffixes: 'y z':2 'z w':1 'w y':1,
    # 'x y':0 -> context x has denom 0 -> pass-through + backoff 1
    assert lm[(2, "x y")]["n_count"] == 0
    assert lm[(2, "x y")]["ctx_count"] == 0
    assert lm[(2, "x y")]["prob"] == round(lm[(1, "y")]["prob"], 9)
    assert lm[(1, "x")]["backoff"] == 1.0
    assert lm[(1, "x")]["log_backoff"] == 0.0
    assert lm[(2, "y z")]["prob"] == (2 - 0.5) / 2 + (
        0.5 * 1 / 2
    ) * round(lm[(1, "z")]["prob"], 9)
    assert lm[(1, "y")]["backoff"] == 0.5 * 1 / 2
    # order 3 raw: p(x y z) = (1-.5)/1 + .5*p2(y z)9, b(x y) = 0.5
    assert lm[(3, "x y z")]["prob"] == 0.5 + 0.5 * round(
        lm[(2, "y z")]["prob"], 9
    )
    assert lm[(2, "x y")]["backoff"] == 0.5
    assert lm[(3, "x y z")]["logprob"] == round(
        math.log10(lm[(3, "x y z")]["prob"]), 9
    )
    with pytest.raises(ValueError, match="smoothing"):
        train_backoff_lm(docs, n=2, smoothing="katz")
    # discount='ney' over CONTINUATION counts: level-1 cc values
    # {y:2, z:1, w:1} -> n1=2, n2=1 -> D1 = 2/(2+2) = 0.5; level-3
    # raw trigrams all singletons -> n1=4, n2=0 -> D3 clamped 1-1e-6
    ney = {
        (r["order"], r["ngram"]): r
        for r in train_backoff_lm(
            docs, n=3, discount="ney", smoothing="kn"
        ).collect()
    }
    d1 = 0.5
    u = round(1.0 / 4, 9)
    assert ney[(1, "y")]["prob"] == (2 - d1) / 4 + (d1 * 3 / 4) * u
    d3 = 1.0 - 1e-6
    assert ney[(3, "x y z")]["prob"] == (1 - d3) / 1 + (
        d3 * 1 / 1
    ) * round(ney[(2, "y z")]["prob"], 9)


def test_prune_lm_count_threshold_renormalizes_backoff(spark):
    """r16 verdict task 2: count-threshold pruning keeps kept probs
    untouched and recomputes each context's backoff weight as the
    exact renormalization b = (1 - Σ kept p_k)/(1 - Σ kept p_lower)
    over 9-dp DECIMAL sums; the scorer then backs off GRACEFULLY
    where rows were pruned (the pruned gram's mass reroutes through
    the recomputed weight instead of vanishing)."""
    import math

    import pytest

    from metalpipe_spark.operators.text import (
        ngram_logprob_backoff,
        prune_lm,
        train_backoff_lm,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d"), (2, "b c")], ["doc_id", "text"]
    )
    lm = train_backoff_lm(docs, n=2, discount=0.75)
    pruned = prune_lm(lm, min_counts=2)
    rows = {(r["order"], r["ngram"]): r for r in pruned.collect()}
    # bigrams (a b):2 and (b c):2 survive; singleton (b d) is pruned
    assert (2, "b d") not in rows
    assert (2, "a b") in rows and (2, "b c") in rows
    assert rows[(2, "a b")]["prob"] == (2.0 - 0.75) / 2.0  # untouched
    # exact recomputed weights
    exp_ba = (1.0 - round((2 - 0.75) / 2.0, 9)) / (1.0 - round(0.375, 9))
    exp_bb = (1.0 - round((2 - 0.75) / 3.0, 9)) / (1.0 - round(0.25, 9))
    assert rows[(1, "a")]["backoff"] == exp_ba
    assert rows[(1, "b")]["backoff"] == exp_bb
    assert rows[(1, "b")]["log_backoff"] == round(math.log10(exp_bb), 9)
    # non-contexts still NULL
    assert rows[(1, "c")]["backoff"] is None
    # graceful degradation: scoring the PRUNED gram "b d" chains
    # b(b)*p1(d) instead of the flat floor
    s = ngram_logprob_backoff(
        spark.createDataFrame([(5, "b d")], ["doc_id", "text"]),
        pruned,
        n=2,
    ).collect()
    want = round(math.log10(exp_bb), 9) + rows[(1, "d")]["logprob"]
    assert abs(s[0]["mean_logprob"] - want) < 1e-9
    assert s[0]["mean_logprob"] > -8.0
    # validation
    with pytest.raises(ValueError, match="non-decreasing"):
        prune_lm(lm, min_counts=[0, 3, 2], n=3)
    with pytest.raises(ValueError, match="t1 must be 0"):
        prune_lm(lm, min_counts=[1, 1], n=2)
    with pytest.raises(ValueError, match="min_counts and/or"):
        prune_lm(lm)


def test_prune_lm_kn_cascades_and_entropy(spark):
    """Pruning a Kneser-Ney table exercises the structural cascades
    (continuation counts are not monotone in order): a pruned context
    drops its extensions (prefix cascade) and kept rows keep their
    suffix chain total (suffix add-back).  Entropy pruning is
    monotone in its threshold and never prunes below count-pruning's
    floor semantics (kept rows score identically)."""
    from metalpipe_spark.operators.text import prune_lm, train_backoff_lm

    docs = spark.createDataFrame(
        [(0, "x y z w y z")], ["doc_id", "text"]
    )
    kn = train_backoff_lm(docs, n=3, discount=0.5, smoothing="kn")
    # cc('x y') = 0 -> pruned at t2=1; trigram 'x y z' cascades away
    pk = {
        (r["order"], r["ngram"])
        for r in prune_lm(kn, min_counts=[0, 1, 1]).collect()
    }
    assert (2, "x y") not in pk and (3, "x y z") not in pk
    assert (3, "w y z") in pk  # suffix 'y z' kept -> chain total
    assert (2, "y z") in pk
    # harsher threshold: only cc>=2 bigram survives, backoff exact
    pk2 = {
        (r["order"], r["ngram"]): r
        for r in prune_lm(kn, min_counts=[0, 2, 2]).collect()
    }
    assert {k for k in pk2} == {
        (1, "w"), (1, "x"), (1, "y"), (1, "z"), (2, "y z")
    }
    p2yz = pk2[(2, "y z")]["prob"]
    p1z = pk2[(1, "z")]["prob"]
    assert pk2[(1, "y")]["backoff"] == (1.0 - round(p2yz, 9)) / (
        1.0 - round(p1z, 9)
    )
    assert pk2[(1, "x")]["backoff"] is None  # no surviving extensions
    # entropy pruning: monotone in threshold, unigrams never pruned
    docs2 = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d"), (2, "b c")], ["doc_id", "text"]
    )
    lm = train_backoff_lm(docs2, n=2)
    full = lm.count()
    small = prune_lm(lm, entropy_threshold=1e-9)
    big = prune_lm(lm, entropy_threshold=1.0)
    assert big.count() <= small.count() <= full
    assert big.where("order = 1").count() == 4  # unigram floor intact


def test_backoff_arpa_roundtrip_and_scorer_n3(spark, tmp_path):
    """The multi-order loop closes at N=3: train_backoff_lm ->
    write_arpa (three sections, backoff weights on context rows) ->
    load_arpa -> ngram_logprob_backoff scores THROUGH THE RELOAD
    bit-identically to the live trainer table; a doc whose trigrams
    are unseen backs off through bigram/unigram evidence instead of
    the flat floor."""
    from metalpipe_spark.operators.text import (
        ngram_logprob_backoff,
        train_backoff_lm,
        write_arpa,
    )
    from metalpipe_spark.sources.readers import load_arpa

    target = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat ran on the mat"),
            (2, "a dog sat on a log"),
        ],
        ["doc_id", "text"],
    )
    lm = train_backoff_lm(target, n=3)
    path = str(tmp_path / "m3.arpa")
    n_rows = write_arpa(lm, path)  # n derived and validated from rows
    assert n_rows == lm.count()
    reload = load_arpa(spark, path)
    live = {
        (r["order"], r["ngram"]): (r["logprob"], r["log_backoff"])
        for r in lm.collect()
    }
    back = {
        (r["order"], r["ngram"]): (r["logprob"], r["backoff"])
        for r in reload.collect()
    }
    assert live == back  # bit-identical, NULLs included

    held_out = spark.createDataFrame(
        [
            (10, "the cat sat on the mat"),   # seen trigrams
            (11, "the dog sat on the log"),   # unseen trigrams, seen words
            (12, "zzz qqq xxx"),              # nothing seen -> flat OOV
        ],
        ["doc_id", "text"],
    )
    s_live = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(held_out, lm, n=3).collect()
    }
    s_back = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(held_out, reload, n=3).collect()
    }
    assert s_live == s_back
    assert s_live[12] == -8.0
    # the backed-off doc is judged by real lower-order evidence: better
    # than the OOV floor, worse than the in-domain doc
    assert -8.0 < s_live[11] < s_live[10]


def test_write_arpa_validates_order(spark, tmp_path):
    """r16 advice: write_arpa must derive/validate the order from the
    ngram column — a bigram table with n=3 used to silently write a
    wrong '\\3-grams:' header that load_arpa would mislabel."""
    import pytest

    from metalpipe_spark.operators.text import (
        train_backoff_lm,
        train_ngram_lm,
        write_arpa,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], ["doc_id", "text"]
    )
    bi = train_ngram_lm(docs, n=2)
    with pytest.raises(ValueError, match="derive order 2"):
        write_arpa(bi, str(tmp_path / "x.arpa"), n=3)
    assert write_arpa(bi, str(tmp_path / "ok.arpa"), n=2) == bi.count()
    # a multi-order table with a gap (order-1 rows dropped) refuses
    holey = train_backoff_lm(docs, n=2).where("order <> 1")
    with pytest.raises(ValueError, match="contiguous"):
        write_arpa(holey, str(tmp_path / "gap.arpa"))
    # a mislabeled order column refuses
    from pyspark.sql import functions as F

    mislabeled = train_backoff_lm(docs, n=2).withColumn(
        "order", F.lit(2)
    )
    with pytest.raises(ValueError, match="mislabeled"):
        write_arpa(mislabeled, str(tmp_path / "bad.arpa"))


def test_write_arpa_reexports_reloaded_model(spark, tmp_path):
    """r17 advice (medium): a load_arpa reload carries log10 backoff
    weights in a 'backoff' column (no 'log_backoff'); re-exporting it
    must keep the weights — the old log_backoff-only rule silently
    wrote a weight-less ARPA whose reload scored every backoff as
    1.0.  Round-trip train -> write -> load -> write -> load and
    require byte-identical files and bit-identical tables."""
    from metalpipe_spark.operators.text import (
        train_backoff_lm,
        write_arpa,
    )
    from metalpipe_spark.sources.readers import load_arpa

    docs = spark.createDataFrame(
        [(0, "a b c a b"), (1, "a b d c")], ["doc_id", "text"]
    )
    lm = train_backoff_lm(docs, n=2)
    p1 = str(tmp_path / "m.arpa")
    p2 = str(tmp_path / "m2.arpa")
    write_arpa(lm, p1)
    first = load_arpa(spark, p1)
    write_arpa(first, p2)  # load_arpa shape: 'backoff' is log-domain
    with open(p1) as f1, open(p2) as f2:
        assert f1.read() == f2.read()
    second = {
        (r["order"], r["ngram"]): (r["logprob"], r["backoff"])
        for r in load_arpa(spark, p2).collect()
    }
    assert second == {
        (r["order"], r["ngram"]): (r["logprob"], r["backoff"])
        for r in first.collect()
    }


def test_write_arpa_empty_multi_order_table(spark, tmp_path):
    """r17 advice (low): an empty multi-order table must raise the
    intended 'empty LM table' ValueError, not IndexError at
    orders[-1]."""
    import pytest

    from metalpipe_spark.operators.text import write_arpa

    empty = spark.createDataFrame(
        [],
        "ngram string, order int, logprob double, log_backoff double",
    )
    with pytest.raises(ValueError, match="empty LM table"):
        write_arpa(empty, str(tmp_path / "e.arpa"))


def test_perplexity_buckets_backoff_validates_lm_shape(spark):
    """r17 advice (low): backoff=True with a single-order table (no
    'order' column) must fail with a usable error up front, not an
    unresolved-column AnalysisException deep in the scorer."""
    import pytest

    from metalpipe_spark.operators.text import (
        perplexity_buckets,
        train_ngram_lm,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], ["doc_id", "text"]
    )
    flat = train_ngram_lm(docs, n=2)  # no 'order', no backoff column
    with pytest.raises(ValueError, match="'order'"):
        perplexity_buckets(docs, flat, n=2, backoff=True)


def test_perplexity_buckets_backoff_scorer(spark):
    """perplexity_buckets(backoff=True): a held-out doc with unseen
    bigrams is scored through the backoff chain (real lower-order
    evidence), ranking ABOVE a junk doc that the flat scorer would
    tie it with — the CCNet-parity behavior the r15 verdict asked
    for."""
    import pytest

    from metalpipe_spark.operators.text import (
        perplexity_buckets,
        train_backoff_lm,
    )

    target = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(3)]
        + [(9, "a dog ran to a log")],
        ["doc_id", "text"],
    )
    lm = train_backoff_lm(target, n=2)
    corpus = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),  # in-domain
            (1, "the dog sat to the log"),  # unseen bigrams, seen words
            (2, "zz qq ww rr tt yy"),       # junk
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["mean_logprob"], r["bucket"])
        for r in perplexity_buckets(corpus, lm, n=2, backoff=True).collect()
    }
    assert out[0][0] > out[1][0] > out[2][0]
    assert out[0][1] == "head" and out[2][1] == "tail"
    # flat scorer would floor doc 1's unseen bigrams at oov; backoff
    # must beat the floor
    assert out[1][0] > -8.0
    with pytest.raises(ValueError, match="multi-order"):
        perplexity_buckets(corpus, {"a b": -1.0}, backoff=True)


def test_backoff_scorer_unk_token_chain(spark):
    """KenLM parity: a model shipping an <unk> unigram catches unseen
    final words by CONTINUING the backoff chain (full backoff sum +
    unk logprob) instead of the flat floor; models without <unk> keep
    the flat oov_logprob, and unk_token=None disables the probe."""
    from metalpipe_spark.operators.text import ngram_logprob_backoff

    lm = spark.createDataFrame(
        [
            ("the", 1, -1.0, -0.5),
            ("cat", 1, -1.2, None),
            ("<unk>", 1, -2.5, None),
            ("the cat", 2, -0.4, None),
        ],
        "ngram string, order int, logprob double, log_backoff double",
    )
    docs = spark.createDataFrame(
        [(0, "the cat"), (1, "the zzz"), (2, "qqq zzz")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(docs, lm, n=2).collect()
    }
    assert got[0] == -0.4
    # "the zzz": bigram miss -> bo("the") + chain; unigram "zzz" miss
    # -> <unk>: bo("the") + lp(<unk>) = -0.5 + -2.5
    assert abs(got[1] - (-3.0)) < 1e-12
    # "qqq zzz": no backoff row for "qqq" (weight 1) -> lp(<unk>)
    assert abs(got[2] - (-2.5)) < 1e-12
    # unk_token=None: unseen final word falls to the flat floor
    flat = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(
            docs, lm, n=2, unk_token=None
        ).collect()
    }
    assert flat[1] == -8.0 and flat[2] == -8.0


def test_backoff_scorer_resolved_unk_parity(spark):
    """resolved_unk_logprob (the streaming sink's once-per-sink probe
    hoist) must be a pure plan-build shortcut: passing the probed
    float — or None for an unk-less model — yields row-identical
    scores to the default per-plan probe, and the resolved value wins
    without touching the model table."""
    from metalpipe_spark.operators.text import ngram_logprob_backoff

    lm = spark.createDataFrame(
        [
            ("the", 1, -1.0, -0.5),
            ("cat", 1, -1.2, None),
            ("<unk>", 1, -2.5, None),
            ("the cat", 2, -0.4, None),
        ],
        "ngram string, order int, logprob double, log_backoff double",
    )
    docs = spark.createDataFrame(
        [(0, "the cat"), (1, "the zzz"), (2, "qqq zzz")],
        ["doc_id", "text"],
    )

    def score(**kw):
        return {
            r["doc_id"]: r["mean_logprob"]
            for r in ngram_logprob_backoff(docs, lm, n=2, **kw).collect()
        }

    probed = score()
    assert score(resolved_unk_logprob=-2.5) == probed
    # None = "model has no <unk>": equals unk_token=None's flat floor
    assert score(resolved_unk_logprob=None) == score(unk_token=None)


def test_backoff_scorer_probe_strategies_agree_on_edge_docs(spark):
    """The 2n-1 model probes join on xxhash64 of the gram's token slice
    with an exact token-array verify; the broadcast and shuffle probe
    strategies must score every resolution class identically — top-order
    hit, backoff chains, <unk> chain, short docs, empty/NULL text,
    repeated whitespace.  (The flat OOV floor reads no probe.)"""
    from metalpipe_spark.operators.text import ngram_logprob_backoff

    # A slice of train_backoff_lm's n=3 model over "the cat sat on the
    # mat" / "a cat ran on a log" / "the cat the cat ran", plus <unk>.
    lm = spark.createDataFrame(
        [("<unk>", 1, -3.0, None),
         ("a", 1, -0.929418926, 0.026328939),
         ("cat", 1, -0.62838893, -0.019428552),
         ("mat", 1, -1.230448921, None),
         ("on", 1, -0.929418926, 0.0641175),
         ("ran", 1, -0.929418926, -0.070581074),
         ("sat", 1, -1.230448921, -0.070581074),
         ("the", 1, -0.62838893, -0.274701057),
         ("a cat", 2, -0.903089987, 0.037788561),
         ("cat ran", 2, -0.505149978, 0.0),
         ("cat sat", 2, -1.204119983, 0.0),
         ("on the", 2, -0.903089987, -0.096910013),
         ("the cat", 2, -0.249877473, 0.124938737),
         ("a cat ran", 3, -0.602059991, None),
         ("on the mat", 3, -0.602059991, None),
         ("the cat sat", 3, -1.079181246, None)],
        "ngram string, order int, logprob double, log_backoff double",
    ).localCheckpoint()
    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat zzz"), (2, "zzz qqq www"),
         (3, "ab"), (4, ""), (5, None), (6, "  the   cat  sat "),
         (7, "on the mat a cat ran")],
        "doc_id long, text string",
    ).localCheckpoint()
    # Both strategies in ONE action (checkpointed inputs: a
    # LocalRelation plan here costs seconds of driver-side planning).
    bcast, shuffled = (
        ngram_logprob_backoff(
            docs, lm, n=3, exact=True, broadcast_model=bm,
            resolved_unk_logprob=-3.0,
        ).withColumn("bm", F.lit(bm))
        for bm in (True, False)
    )
    rows = bcast.unionByName(shuffled).collect()
    got = {
        bm: sorted(
            (r["doc_id"], r["mean_logprob"]) for r in rows if r["bm"] == bm
        )
        for bm in (True, False)
    }
    assert [d for d, _ in got[True]] == list(range(8))
    assert got[True] == got[False]
    # the <unk> chain pays the context's backoff weights: "the cat zzz"
    # backs off through "the cat" and "cat" before reaching <unk>
    assert got[True][1][1] == round(0.124938737 - 0.019428552 - 3.0, 9)


def test_lm_parquet_exchange_and_shuffle_scorer(spark, tmp_path):
    """r16 verdict 'What's missing' #2, second half: the parquet-native
    distributed model exchange (no driver collect) and the
    broadcast_model=False shuffle-join scorer path — train ->
    write_lm_parquet -> load_lm_parquet -> score must equal the live
    table under BOTH probe strategies, and the order filter must reach
    the scan as a partition filter."""
    import os

    import pytest

    from metalpipe_spark.operators.text import (
        load_lm_parquet,
        ngram_logprob_backoff,
        train_backoff_lm,
        write_lm_parquet,
    )

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "a cat ran on a log")],
        ["doc_id", "text"],
    )
    lm = train_backoff_lm(docs, n=3, smoothing="mkn", discount="ney")
    path = str(tmp_path / "lm_pq")
    n_rows = write_lm_parquet(lm, path)
    assert n_rows == lm.count()
    # order is a partition column on disk
    assert os.path.isdir(os.path.join(path, "order=1"))
    reload = load_lm_parquet(spark, path)
    held = spark.createDataFrame(
        [(7, "the dog sat on the log"), (8, "zz qq")], ["doc_id", "text"]
    )
    want = {
        r["doc_id"]: r["mean_logprob"]
        for r in ngram_logprob_backoff(held, lm, n=3, exact=True).collect()
    }
    for bcast in (True, False):
        got = {
            r["doc_id"]: r["mean_logprob"]
            for r in ngram_logprob_backoff(
                held, reload, n=3, exact=True, broadcast_model=bcast
            ).collect()
        }
        assert got == want, bcast
    # the shuffle path's plan carries no broadcast exchange for the
    # model probes
    plan = ngram_logprob_backoff(
        held, reload, n=3, broadcast_model=False
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan
    # partition pruning: order=2 slice scans one section
    sliced = load_lm_parquet(spark, path, order=2)
    assert sliced.count() == lm.where("order = 2").count()
    phys = sliced._jdf.queryExecution().executedPlan().toString()
    assert "order=2" in phys or "PartitionFilters" in phys
    # validation: mislabeled order refuses distributed
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="mislabeled|disagrees"):
        write_lm_parquet(
            lm.withColumn("order", F.lit(2)), str(tmp_path / "bad")
        )
    with pytest.raises(ValueError, match="contiguous"):
        write_lm_parquet(
            lm.where("order <> 1"), str(tmp_path / "gap")
        )
