"""Entity mentions: one per distinct entity id of a sentence.

The reference never materializes a mention table (mentions live as
parallel label arrays); the linking stage needs one. The kernels that
tag a sentence (``segment._kernel``, ``ner.detect_mentions``) call
``sentence_mentions`` while they hold its arrays, and emit the result
as the sentence row's ``mentions`` column. The pair loop
(``pairs.document_pairs``) takes each pair's surfaces and lemmas from
the same mentions, so every triple's subject and object lemma is the
lemma of a mention of its sentence: the lemma that linking assigns a
node to, and that ``linking.edges_from_triples`` joins on.

``mentions_from_sentences`` is then a JVM explode of that column, like
``segment.pairs_of``: no Python crossing and no shuffle. Two sentence
rows with the same (url, sent_idx), such as an un-deduped re-crawl,
yield one set of mention rows each.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lemmatize import lemma_phrase
from ..functions.tokenizer import detokenize

_IOB = re.compile("^[BI]-")


def sentence_mentions(tokens, entities, entity_ids) -> list[dict]:
    """One ``schemas.MENTION`` dict per distinct non-null id of
    ``entity_ids``, in order of first occurrence.

    Span rule: ``beg``/``end`` are the id's first and last token
    positions (the reference's marker coordinates, readers.py:513-514),
    while ``surface`` is the detokenized text of the tokens tagged with
    the id and nothing between them. When an id is tagged twice in a
    sentence ("Jan czyli Janek") the surface is "jan janek", not the
    untagged "czyli" between: the surface is what the annotation marked,
    which is what a node shows. ``lemma`` is ``lemma_phrase(surface)``;
    ``entity_class`` is the IOB class of the first position.
    """
    positions: dict[str, list[int]] = {}
    for i, eid in enumerate(entity_ids):
        if eid is not None:
            positions.setdefault(eid, []).append(i)
    out = []
    for eid, pos in positions.items():
        surface = detokenize([tokens[i] for i in pos])
        label = entities[pos[0]]
        out.append(
            {
                "entity_id": eid,
                "entity_class": None if label is None else _IOB.sub("", label),
                "beg": pos[0],
                "end": pos[-1],
                "surface": surface,
                "lemma": lemma_phrase(surface),
            }
        )
    return out


def mentions_from_sentences(sentences: DataFrame) -> DataFrame:
    """SENTENCES -> MENTIONS: one row per mention of each sentence row."""
    return sentences.select(
        "url", "sent_idx", F.explode("mentions").alias("m")
    ).select("url", "sent_idx", "m.*")
