"""Pairwise relation-candidate generation + positional-marker insertion.

The reference's only quadratic operator (readers.py:496-534 explode,
J5 in SURVEY.md): every sentence is replicated once per candidate entity
pair, with ``<e1>..</e1> <e2>..</e2>`` markers inserted. Faithfully
capped: NO_RELATION augmentation only for ``1 < n_entities < 15``
(readers.py:496); both caps are the skew guards that keep hot pages
bounded at scale.

The per-document loop is ``document_pairs``: NO_RELATION pairs
discovered in one sentence persist for later sentences of the same
document, which is why the unit of processing must be the document, not
the sentence. It reads each sentence's mentions
(``mentions.sentence_mentions``), emits skinny pairs (ids, marker
coordinates, gold class, the two mentions' surfaces and lemmas, the
between-text) and runs no marker surgery: the marker coordinates are
``kernels.marker_locations`` of each id's first/last occurrence, the
same rule ``insert_positional_tokens`` reports, which
``generate_pairs`` runs on those same spans for the marked arrays.

Spark shape. Two operators call it, each on one row per document:

* ``segment.segment_and_pair`` - the pipeline path. A page row is a
  whole document: pages join their relation lists on url and one
  ``mapInPandas`` kernel segments, tags and pairs each page, so the
  sentence arrays cross into Python once.
* ``generate_pairs`` below - for callers that need the marker-inserted
  ``tokens``/``token_ids``/``entities`` arrays (tensorize, goldens).
  It rebuilds the document rows from sentence rows:

      sentences groupBy(url) -> sent_idx-sorted sentence list  (ONE fat shuffle)
      page_relations groupBy(url) -> per-doc relation list     (small shuffle)
        left-join ON url
      mapInPandas(document_pairs + insert_positional_tokens per doc row)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.kernels import (
    augment_no_relations,
    insert_positional_tokens,
    marker_locations,
    mk_labels_map,
)
from ..functions.lemmatize import lemma_phrase
from ..functions.tokenizer import DeterministicTokenizer, detokenize
from .mentions import sentence_mentions

# generic IOB label vocabulary for the synthetic channels; only used for
# the marker label surgery's id lookups (insert_positional_tokens).
def default_labels_map():
    return mk_labels_map(
        ["person_nam", "city_nam", "country_nam", "org_nam", "facility_nam", "ENT"],
        "iob",
    )


def relations_by_url(page_relations: DataFrame) -> DataFrame:
    """(url, rels): each page's gold relations as one sorted list - the
    order they enter ``document_pairs``' relation dict."""
    return page_relations.groupBy("url").agg(
        F.sort_array(
            F.collect_list(F.struct("e1_id", "e2_id", "rel_class"))
        ).alias("rels")
    )


def document_pairs(sentences, rels) -> list[list[tuple[dict, dict]]]:
    """The per-document pair loop (readers.py:494-534), without markers.

    ``sentences`` holds (tokens, mentions) per sentence in sent_idx
    order, the mentions being ``mentions.sentence_mentions`` of the
    sentence; ``rels`` the page's (e1_id, e2_id, rel_class) mappings, or
    None. Returns one list per sentence of (spans, pair): the pair's
    entity spans before marker insertion - each id's first/last
    occurrence (readers.py:513-514), i.e. its mention's ``beg``/``end``
    - and its ``schemas.PAIR`` dict, whose coordinates are the marker
    locations of those spans and whose surfaces and lemmas are the
    mentions'. The relation dict is document-level and mutable (the
    reference mutates raw_relations across a document's sentences,
    readers.py:427), so NO_RELATION pairs augmented in one sentence are
    candidates in every later one.
    """
    potential: dict = {}
    for r in rels if rels is not None else ():
        potential[(r["e1_id"], r["e2_id"])] = r["rel_class"]
    out = []
    for tokens, mentions in sentences:
        by_id = {m["entity_id"]: m for m in mentions}
        augment_no_relations(set(by_id), potential)
        sent_pairs = []
        for (e1_id, e2_id), rel_class in potential.items():
            m1, m2 = by_id.get(e1_id), by_id.get(e2_id)
            if m1 is None or m2 is None:
                continue
            spans = {
                "e1_beg": m1["beg"],
                "e1_end": m1["end"],
                "e2_beg": m2["beg"],
                "e2_end": m2["end"],
            }
            lo, hi = min(m1["end"], m2["end"]), max(m1["beg"], m2["beg"])
            between = detokenize(tokens[lo + 1 : hi])
            sent_pairs.append(
                (
                    spans,
                    {
                        "e1_id": e1_id,
                        "e2_id": e2_id,
                        **marker_locations(spans),
                        "gold_class": rel_class,
                        "e1_surface": m1["surface"],
                        "e2_surface": m2["surface"],
                        "between_text": between,
                        "e1_lemma": m1["lemma"],
                        "e2_lemma": m2["lemma"],
                        # computed here (Python already holds the row) so
                        # scoring stays trivial JVM string ops
                        "between_lemma": lemma_phrase(between),
                    },
                )
            )
        out.append(sent_pairs)
    return out


def generate_pairs(
    sentences: DataFrame,
    page_relations: DataFrame,
    co_partitioned: bool = False,
) -> DataFrame:
    """SENTENCES + PAGE_RELATIONS -> PAIRS (one row per candidate pair,
    marker-inserted arrays included).

    The sentence rows are grouped into one row per url (all rows of a
    url form one document), their arrays sorted by sent_idx, so each
    document reaches the kernel whole whatever the input's order or
    partitioning (a parquet re-read, a shuffle). ``co_partitioned`` is
    accepted and ignored; it goes when the benchmark's traced pass moves
    to ``segment_and_pair``.
    """
    labels_map = default_labels_map()
    sent = F.struct("sent_idx", "tokens", "token_ids", "entities", "entity_ids")
    docs = (
        sentences.groupBy("url")
        .agg(F.sort_array(F.collect_list(sent)).alias("sents"))
        .join(relations_by_url(page_relations), "url", "left")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tokenizer = DeterministicTokenizer()
        for pdf in batches:
            out = {f.name: [] for f in schemas.PAIRS.fields}
            for url, sents, rels in zip(pdf["url"], pdf["sents"], pdf["rels"]):
                tagged = [
                    (
                        s["tokens"],
                        sentence_mentions(s["tokens"], s["entities"], s["entity_ids"]),
                    )
                    for s in sents
                ]
                for s, sent_pairs in zip(sents, document_pairs(tagged, rels)):
                    for spans, p in sent_pairs:
                        toks, tids, ents, _, _ = insert_positional_tokens(
                            tokens=list(s["tokens"]),
                            token_ids=list(s["token_ids"]),
                            entities=list(s["entities"]),
                            entity_ids=list(s["entity_ids"]),
                            positions=spans,
                            entity_encoding_scheme="iob",
                            labels_map=labels_map,
                            positional_tokens="scheme_1",
                            special_token_ids=tokenizer.special_token_ids,
                            corpus="generic",
                        )
                        out["url"].append(url)
                        out["sent_idx"].append(s["sent_idx"])
                        out["tokens"].append(toks)
                        out["token_ids"].append(tids)
                        out["entities"].append(
                            [e if e is not None else "O" for e in ents]
                        )
                        for k, v in p.items():
                            out[k].append(v)
            if out["url"]:
                # an all-empty pandas frame infers float64 columns that
                # Arrow cannot cast to the array types
                yield pd.DataFrame(out)

    return docs.mapInPandas(kernel, schema=schemas.PAIRS)
