"""Workload inputs, ground truth and output checks of the linkage benchmark.

Every workload derives its inputs from the seed alone.  The pipeline under
test receives only the documents; the truth (entity of each document) stays
here and is used to score the pipeline's output.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Input sizes.  "bench" is the default; "tiny" is the smoke-test size.
# Sizing is set by the benchmark's time budget on a 4-vCPU host: one
# full pipeline run must stay near 10-15 s so that an invocation of
# about a minute holds set-up and two timed operations.
# self_dense generates a few more entities than it needs and keeps the
# first ``self_docs`` documents, so every seed gives the same corpus size.
# At 1,800 docs blocking and scoring task time were tied on some seeds;
# at 3,000 (~49 pairs/doc) scoring leads on every seed traced.
SIZES = {
    "bench": {"self_entities": 1500, "self_docs": 3000, "cross_customers": 500},
    "tiny": {"self_entities": 130, "self_docs": 260, "cross_customers": 100},
}

# Pairwise F1 below this fails the output check of self_dense: a gross
# breakage guard (welded or empty clusters), not a quality gate.  Over
# all predicted edges the pipeline scores 0.85-0.89 here depending
# on the seed; pair_f1 itself is a bounded end-to-end metric.
SELF_MIN_F1 = 0.75

# TPC-H c_mktsegment values; the synthetic corpus reads only the
# customer key and segment.
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@dataclass
class Inputs:
    """Generated inputs plus the benchmark's own truth about them."""

    docs: int
    pipeline: type  # LinkagePipeline or CrossLinkagePipeline
    pipeline_args: tuple[DataFrame, ...]
    entity_of: dict[str, int]
    true_pairs: int
    min_f1: float
    # exact expected output where the corpus defines it, else None
    expect_matches: int | None
    expect_clusters: int | None
    # the same documents split into two append batches (traced run)
    append_batches: tuple[DataFrame, DataFrame]


@dataclass
class OpOutput:
    """What one pipeline run returned, pulled to the driver."""

    edges: list[tuple[str, str]]
    clusters: list[tuple[str, str]]


def _pairs_within(entity_of: dict[str, int]) -> int:
    return sum(n * (n - 1) // 2 for n in Counter(entity_of.values()).values())


def self_dense(spark: SparkSession, seed: int, size: str) -> Inputs:
    """Datagen corpus: small name pools plus hard-negative twins put many
    documents into each Soundex block, so scoring carries the most work."""
    from record_linkage_ldu_spark.plans.linkage import LinkagePipeline
    from record_linkage_ldu_spark.sources.datagen import generate_documents

    gen = generate_documents(
        spark, SIZES[size]["self_entities"], seed=seed
    ).localCheckpoint(eager=True)
    # doc ids are d<entity:09d>x<copy>, so id order is entity order
    kept = sorted(
        gen.select("doc_id", "entity_id").collect(), key=lambda r: r["doc_id"]
    )[: SIZES[size]["self_docs"]]
    entity_of = {r["doc_id"]: r["entity_id"] for r in kept}
    # narrow over the pinned corpus, so the runs read no generator work
    docs = gen.where(F.col("doc_id") <= kept[-1]["doc_id"]).select("doc_id", "spans")
    half = F.abs(F.hash("doc_id")) % 2 == 0
    batches = (docs.where(half), docs.where(~half))
    return Inputs(
        docs=len(entity_of),
        pipeline=LinkagePipeline,
        pipeline_args=(docs,),
        entity_of=entity_of,
        true_pairs=_pairs_within(entity_of),
        min_f1=SELF_MIN_F1,
        expect_matches=None,
        expect_clusters=None,
        append_batches=batches,
    )


def cross_sparse(spark: SparkSession, seed: int, size: str) -> Inputs:
    """Synthetic customer corpus (sources/synth.py): copy 'a' of every key
    on the left, copies 'b' and 'c' on the right.  Blocks are small, so
    span extraction and normalization carry a larger share.  The seed
    permutes the customer row order only."""
    from record_linkage_ldu_spark.plans.linkage import CrossLinkagePipeline
    from record_linkage_ldu_spark.sources.synth import synth_documents

    n = SIZES[size]["cross_customers"]
    keys = list(range(1, n + 1))
    random.Random(seed).shuffle(keys)
    cust = spark.createDataFrame(
        [(k, _SEGMENTS[k % len(_SEGMENTS)]) for k in keys],
        "c_custkey long, c_mktsegment string",
    )
    docs = synth_documents(cust).localCheckpoint(eager=True)
    on_left = F.col("doc_id").startswith("a")
    left, right = docs.where(on_left), docs.where(~on_left)
    entity_of = {f"a{k:09d}": k for k in keys}
    entity_of.update({f"b{k:09d}": k for k in keys})
    entity_of.update({f"c{k:09d}": k for k in keys if k % 5 == 0})
    # truth links each right copy to its left copy: a-b for every key,
    # a-c for every 5th key
    n_true = n + n // 5
    return Inputs(
        docs=len(entity_of),
        pipeline=CrossLinkagePipeline,
        pipeline_args=(left, right),
        entity_of=entity_of,
        true_pairs=n_true,
        min_f1=1.0,
        expect_matches=n_true,
        expect_clusters=n,
        append_batches=(left, right),
    )


WORKLOADS = {"self_dense": self_dense, "cross_sparse": cross_sparse}


def run_pipeline(pipeline, inputs: Inputs) -> OpOutput:
    """One operation: input DataFrames to matches and clusters held on the
    driver."""
    res = pipeline.run(*inputs.pipeline_args)
    edges = [
        (r[0], r[1]) for r in res.matches.select("doc_id_1", "doc_id_2").collect()
    ]
    clusters = [
        (r[0], r[1]) for r in res.clusters.select("doc_id", "cluster_id").collect()
    ]
    return OpOutput(edges=edges, clusters=clusters)


def pair_f1(edges: list[tuple[str, str]], inputs: Inputs) -> float:
    pred = {tuple(sorted(e)) for e in edges}
    ent = inputs.entity_of
    tp = sum(1 for a, b in pred if ent[a] == ent[b])
    if tp == 0:
        return 0.0
    precision = tp / len(pred)
    recall = tp / inputs.true_pairs
    return 2 * precision * recall / (precision + recall)


def cluster_hash(clusters: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for doc_id, cluster_id in sorted(clusters):
        h.update(f"{doc_id}\t{cluster_id}\n".encode())
    return h.hexdigest()


def check_output(
    out: OpOutput, inputs: Inputs, reference_hash: str | None
) -> list[str]:
    """Return the reasons this output is wrong (empty when it is right)."""
    problems = []
    n_clusters = len({c for _, c in out.clusters})
    if len(out.clusters) != inputs.docs:
        problems.append(f"{len(out.clusters)} cluster rows for {inputs.docs} docs")
    if inputs.expect_matches is not None and len(out.edges) != inputs.expect_matches:
        problems.append(f"{len(out.edges)} matches, expected {inputs.expect_matches}")
    if inputs.expect_clusters is not None and n_clusters != inputs.expect_clusters:
        problems.append(f"{n_clusters} clusters, expected {inputs.expect_clusters}")
    f1 = pair_f1(out.edges, inputs)
    if f1 < inputs.min_f1:
        problems.append(f"pair F1 {f1:.6f} below {inputs.min_f1}")
    if reference_hash is not None and cluster_hash(out.clusters) != reference_hash:
        problems.append("cluster assignment differs from the first run")
    return problems
