"""Sentence segmentation + entity-aware subword tokenization.

Re-expresses the reference's per-document loop (readers.py:447-493:
``nltk.sent_tokenize`` then the inline-``<entity>`` regex scan with IOB
tagging) as one ``mapInPandas`` stage: pages in, one row per sentence out
with the reference's five parallel arrays. The tokenizer is constructed
once per Arrow-batch iterator (executor-local singleton pattern - the
reference's frozen-embedding trick, EncjoSzukaczLSTM.py:16-26).

``segment_and_pair`` runs the document's pair loop
(``pairs.document_pairs``) in the same kernel, so the pipeline crosses
into Python once per page: every Python-worker task pays a fixed set-up
toll, and a second stage would also send the sentence arrays back into
Python.

Scale notes: the kernel is a pure map over page rows, with predicate
pushdown (lang filter) happening at the parquet/Iceberg scan *before*
any Python is invoked. ``segment_and_tag`` keeps the scan's
partitioning. ``segment_and_pair`` joins the relation lists on url: the
planner broadcasts them while they fit under
``spark.sql.autoBroadcastJoinThreshold`` (web-scale gold sets are tiny
or absent), so the pages stay in their scan partitions; larger lists
(dense gold annotations, e.g. 300k synthetic pages under spark-submit's
10 MB default) get a sort-merge join that shuffles the pages by url.
"""

from __future__ import annotations

from itertools import repeat
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.kernels import tag_sentence_inline
from ..functions.tokenizer import DeterministicTokenizer, sent_tokenize
from .pairs import document_pairs, relations_by_url


def _kernel(schema, text_col: str, from_html: bool):
    """Page kernel emitting ``schema`` rows; pairs each page when the
    schema has a ``pairs`` column (its input then has ``rels``)."""
    with_pairs = "pairs" in schema.names

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .extract import extract_series

        tokenizer = DeterministicTokenizer()
        for pdf in batches:
            texts = (
                extract_series(pdf[text_col]) if from_html else pdf[text_col]
            )
            rels = pdf["rels"] if with_pairs else repeat(None)
            out = {f.name: [] for f in schema.fields}
            for url, text, page_rels in zip(pdf["url"], texts, rels):
                if not text:
                    continue
                tagged = []
                for sent_idx, sent in enumerate(sent_tokenize(text)):
                    toks, tids, ents, eids, uniq = tag_sentence_inline(
                        sent, tokenizer, "iob", use_entity_classes=True
                    )
                    tagged.append((toks, eids))
                    out["url"].append(url)
                    out["sent_idx"].append(sent_idx)
                    out["sent_text"].append(sent)
                    out["tokens"].append(toks)
                    out["token_ids"].append(tids)
                    out["entities"].append(ents)
                    out["entity_ids"].append(eids)
                    out["n_entities"].append(len(uniq))
                if with_pairs:
                    out["pairs"].extend(
                        [p for _, p in sent_pairs]
                        for sent_pairs in document_pairs(tagged, page_rels)
                    )
            if out["url"]:
                # an all-empty pandas frame infers float64 columns that
                # Arrow cannot cast to the array types
                yield pd.DataFrame(out)

    return kernel


def segment_and_tag(
    pages: DataFrame,
    text_col: str = "text",
    from_html: bool = False,
) -> DataFrame:
    """pages -> SENTENCES (url, sent_idx, sent_text, tokens, token_ids,
    entities, entity_ids, n_entities).

    ``from_html=True`` fuses HTML->text extraction (the exact
    ``extract.extract_text_udf`` semantics, byte-identical) into this
    kernel: ``text_col`` then names the binary html column. Without the
    fusion the extracted text crosses the JVM<->Python Arrow boundary
    twice more than necessary (UDF out, kernel in) - ~2 extra copies of
    the full corpus text moved and transposed per run (round 7: control
    how many columns cross, and how often).
    """
    return pages.select("url", text_col).mapInPandas(
        _kernel(schemas.SENTENCES, text_col, from_html),
        schema=schemas.SENTENCES,
    )


def segment_and_pair(
    pages: DataFrame,
    page_relations: DataFrame,
    text_col: str = "text",
    from_html: bool = False,
) -> DataFrame:
    """pages + PAGE_RELATIONS -> SENTENCE_PAIRS: ``segment_and_tag``'s
    rows, each carrying its sentence's candidate pairs as an array of
    ``schemas.PAIR`` structs (explode them with ``pairs_of``).

    Pages get their relation lists through a plain left join on url; the
    planner broadcasts the lists when they are small and sort-merge
    joins (shuffling the pages) when not. A page row is a whole
    document, so neither join strategy needs url contiguity, and
    two page rows with the same url are segmented and paired
    independently - one set of sentences and pairs per row, like
    ``mentions_from_sentences`` yields one mention row per sentence row.
    """
    src = pages.select("url", text_col).join(
        relations_by_url(page_relations), "url", "left"
    )
    return src.mapInPandas(
        _kernel(schemas.SENTENCE_PAIRS, text_col, from_html),
        schema=schemas.SENTENCE_PAIRS,
    )


def pairs_of(sentence_pairs: DataFrame) -> DataFrame:
    """SENTENCE_PAIRS -> PAIRS without the marker-inserted arrays: a JVM
    explode of the ``pairs`` column, one row per candidate pair."""
    return sentence_pairs.select(
        "url", "sent_idx", F.explode("pairs").alias("p")
    ).select("url", "sent_idx", "p.*")
