"""End-to-end KG-construction plan.

One declarative lifecycle for the whole reference dataflow (SURVEY.md §3
restatement): scan -> filter -> extract -> segment/tag -> pairs ->
score -> triples -> link -> materialize. Each stage returns a DataFrame;
``build_kg`` wires them with optional per-stage parquet checkpoints
(resume = skip completed stages).

Extract, segment/tag and pairs are one Python kernel
(``segment.segment_and_pair``): one Python crossing per page. The pairs
stage is a JVM explode of the sentence rows' skinny pairs, so it holds
no marker-inserted arrays; ``pairs.generate_pairs`` builds those for the
tensorize path from sentence rows, grouped per url into the same
one-row-per-document shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract
from ..operators.linking import canonicalize, edges_from_triples
from ..operators.materialize import checkpoint_parquet
from ..operators.mentions import mentions_from_sentences
from ..operators.score import (
    precision_recall,
    score_pairs,
    triples_from_scored,
)
from ..operators.segment import pairs_of, segment_and_pair


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    page_relations: DataFrame,
    lang: str = "pl",
    checkpoint_dir: str | None = None,
    persist: bool = True,
    link: bool = True,
) -> dict:
    """Run the full pipeline; returns a dict of stage DataFrames.

    Fan-out stages (the sentence rows, which carry their pairs, feed both
    mentions and pairs; triples feeds both the parity harness and edges)
    are persisted MEMORY_AND_DISK so a multi-action run computes each NLP
    stage exactly once - the in-memory analog of the production
    stage-checkpoint tables (``checkpoint_dir`` replaces persistence with
    durable parquet when set; the "sentences" checkpoint then holds the
    ``pairs`` column too, and a checkpoint whose columns differ from the
    stage's - one an older layout wrote - is recomputed, not resumed).
    """
    from pyspark import StorageLevel

    def ckpt(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir:
            return checkpoint_parquet(df, os.path.join(checkpoint_dir, name))
        if persist:
            return df.persist(StorageLevel.MEMORY_AND_DISK)
        return df

    from pyspark.sql import Observation

    observations: dict[str, Observation] = {}

    def obs(df: DataFrame, name: str, *extra) -> DataFrame:
        # pipeline counters (A4 analog: the reference's ad-hoc progress
        # prints become Observation metrics collected with the action)
        o = Observation(name)
        observations[name] = o
        return df.observe(o, F.count(F.lit(1)).alias("rows"), *extra)

    # language filter FIRST - a catalyst-pushable predicate that prunes
    # ~x% of the scan before any Python runs (F1 in SURVEY.md §2.2)
    pl_pages = obs(pages.where(F.col("lang") == lang), "pages_kept")
    # the "extracted" stage stays exposed for callers/tests, but the
    # sentence chain uses the FUSED extract+segment+pair kernel: same
    # byte-identical extraction (shared extract_series body), one
    # JVM<->Python Arrow crossing per page - the corpus text crosses
    # once (round 7) and the sentence arrays never go back
    # into Python for pairing
    extracted = extract(pl_pages)
    tagged = ckpt(
        obs(
            segment_and_pair(
                pl_pages, page_relations, text_col="html", from_html=True
            ),
            "sentences",
            F.sum("n_entities").alias("n_entity_mentions"),
        ),
        "sentences",
    )
    sentences = tagged.drop("pairs")
    mentions = ckpt(mentions_from_sentences(sentences), "mentions")
    # skinny pairs: a JVM explode of the sentence rows, which already
    # hold them - persisting it too would cache every pair twice; a
    # durable checkpoint still writes the stage, so a resume can skip it
    pairs = pairs_of(tagged)
    if checkpoint_dir:
        pairs = ckpt(pairs, "pairs")
    scored = score_pairs(pairs)
    triples = ckpt(
        obs(triples_from_scored(scored), "triples"), "triples"
    )
    stages = {
        "_observations": observations,
        "pages": pl_pages,
        "extracted": extracted,
        "sentences": sentences,
        "mentions": mentions,
        "pairs": pairs,
        "scored": scored,
        "triples": triples,
        "_ckpt": ckpt,
    }
    if link:
        link_kg(stages)
    return stages


def lineage_report(stages: dict) -> dict:
    """Collected Observation metrics per stage (call after actions have
    run; Observation.get blocks until its stage completed). Together with
    ``materialize.partition_counters`` this is the lineage/counters table
    the north rule requires."""
    return {
        name: dict(o.get) for name, o in stages.get("_observations", {}).items()
    }


def link_kg(stages: dict) -> dict:
    """Linking phase: canonicalize mentions (eager iterative CC loop) and
    aggregate edges. Separated from build_kg so the extraction phase can
    be timed/run without the driver-synced graph loop."""
    ckpt = stages["_ckpt"]
    node_assignments, nodes = canonicalize(stages["mentions"])
    stages["node_assignments"] = node_assignments
    stages["nodes"] = ckpt(nodes, "nodes")
    stages["edges"] = ckpt(
        edges_from_triples(stages["triples"], node_assignments), "edges"
    )
    return stages


def gold_triples(scored_pairs: DataFrame) -> DataFrame:
    """The reference-parity gold set: annotated (non-augmented) pairs with
    their gold class - what the reference's positive path emits."""
    return scored_pairs.where(
        F.col("gold_class").isNotNull() & (F.col("gold_class") != "NO_RELATION")
    ).select(
        "url",
        "sent_idx",
        F.col("e1_lemma").alias("subj"),
        F.col("gold_class").alias("pred"),
        F.col("e2_lemma").alias("obj"),
        F.col("e1_id").alias("subj_id"),
        F.col("e2_id").alias("obj_id"),
    )


def evaluate_parity(stages: dict) -> dict:
    """Micro P/R of predicted triples vs the reference gold set. An empty
    corpus is reported explicitly rather than as 0.0 "failed" parity."""
    pred = stages["triples"]
    gold = gold_triples(stages["scored"])
    result = precision_recall(pred, gold)
    result["empty_corpus"] = result["n_gold"] == 0 and result["n_pred"] == 0
    return result
