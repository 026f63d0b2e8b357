"""The benchmark's workloads: which catalog rows run, on which inputs,
and why each workload exists.

Each workload is a closed loop with one client: a pass runs every row
once, one after another, each row's build and checksum drain finishing
before the next row starts.  The seed draws the inputs and the row
order of every pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.inputs import Scale


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    rows: tuple[str, ...]
    scale: Scale


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            "many short relational, YAML-pipeline, MTL, entity-graph and "
            "treehorn rows and an in-memory upsert: plan build, py4j and "
            "task scheduling dominate; little Python UDF work, no file sinks",
            (
                "q01_pricing_summary",
                "q_pipeline_yaml",
                "q_mtl_events",
                "q_edges_lives_in",
                "q_treehorn_props",
                "q_merge_upsert",
            ),
            Scale(sf=0.01, n_docs=500, n_embeddings=500),
        ),
        Workload(
            "corpus",
            "MinHash near-dup, embedding, curation, BPE, sketch and ANN rows, "
            "an availableNow stream and a WET write over a corpus with 10% "
            "perturbed replicas: Python workers, shuffle, checkpoints, writes",
            (
                "q_minhash_lsh_pairs",
                "q_embed_documents",
                "q_curate_top_docs",
                "q_bpe_pair_counts",
                "q_hll_tokens",
                "q_ann_brute_topk",
                "q_stream_dedup",
                "q_wet_roundtrip",
            ),
            Scale(sf=0.01, n_docs=500, n_embeddings=500),
        ),
    )
}
