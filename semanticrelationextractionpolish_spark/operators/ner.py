"""Mention detection on raw (unannotated) text - the EncjoSzukacz role.

The reference detects mentions with trained BiLSTM/BERT taggers
(/root/reference/EncjoSzukaczLSTM.py:67-93, EncjoSzukaczPolbert.py); at
engine level that is a per-token labeling function emitting IOB tags.
Here the labeler is a deterministic **gazetteer tagger**: a broadcast
dictionary of known surface forms (longest-match-first, lemma-normalized
lookup) produces the same IOB output shape as the reference's models -
swap `GazetteerTagger.label_tokens` for a `predict_batch_udf` model call
and nothing downstream changes.

Scale design: the gazetteer is broadcast once (executor-local dict);
tagging is a pure map (mapInPandas, no shuffle); longest-match window is
bounded (MAX_PHRASE tokens) so per-token cost is O(MAX_PHRASE).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.lemmatize import lemma_phrase
from ..functions.tokenizer import DeterministicTokenizer, sent_tokenize
from .mentions import sentence_mentions

MAX_PHRASE = 4  # longest gazetteer entry, in words


class GazetteerTagger:
    """Longest-match dictionary tagger over word tokens (lemma keys)."""

    def __init__(self, gazetteer: dict[str, str]):
        # surface/lemma phrase -> entity class; keys lemma-normalized
        self.entries = {lemma_phrase(k): v for k, v in gazetteer.items()}

    def label_words(self, words: list[str]) -> list[tuple[int, int, str, str]]:
        """-> [(beg_word, end_word, entity_class, matched_lemma)] with
        greedy longest-match, non-overlapping, left to right. Edge
        punctuation is stripped before the lemma lookup ("Warszawie." must
        hit the "warszaw" key)."""
        import re as _re

        lemmas = [
            lemma_phrase(_re.sub(r"^\W+|\W+$", "", w, flags=_re.UNICODE))
            for w in words
        ]
        out = []
        i = 0
        n = len(words)
        while i < n:
            hit = None
            for span in range(min(MAX_PHRASE, n - i), 0, -1):
                key = " ".join(lemmas[i : i + span])
                cls = self.entries.get(key)
                if cls is not None:
                    hit = (i, i + span - 1, cls, key)
                    break
            if hit:
                out.append(hit)
                i = hit[1] + 1
            else:
                i += 1
        return out


def default_gazetteer() -> dict[str, str]:
    """Entity inventory of the synthetic corpus (stand-in for a trained
    model's implicit lexicon; replace with model scoring for open text)."""
    from ..sources.synth import CHANNELS

    gaz = {}
    for chan, table in CHANNELS.items():
        for base, variants in table.items():
            for v in variants:
                gaz[v] = chan
    return gaz


def detect_mentions(
    pages: DataFrame,
    gazetteer: dict[str, str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """pages(url, text) with NO inline annotation -> SENTENCES rows with
    IOB tags, synthesized per-page entity ids (``url#eN``) and their
    mentions, exactly the shape the pair generator consumes."""
    gaz = gazetteer or default_gazetteer()
    src = pages.select("url", text_col)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = GazetteerTagger(gaz)
        tokenizer = DeterministicTokenizer()
        for pdf in batches:
            out = {f.name: [] for f in schemas.SENTENCES.fields}
            for url, text in zip(pdf["url"], pdf[text_col]):
                if not text:
                    continue
                ent_counter = 0
                for sent_idx, sent in enumerate(sent_tokenize(text)):
                    words = sent.split()
                    matches = tagger.label_words(words)
                    toks, tids, ents, eids = [], [], [], []
                    # walk words; tokenize each; assign IOB by match span
                    span_by_word = {}
                    for m_i, (b, e, cls, _) in enumerate(matches):
                        for w in range(b, e + 1):
                            span_by_word[w] = (m_i, b, cls)
                    match_eids = {}
                    import re as _re

                    for w_i, word in enumerate(words):
                        hit = span_by_word.get(w_i)
                        if hit is None:
                            res = tokenizer.tokenize(word)
                            toks.extend(res["tokens"])
                            tids.extend(res["token_ids"])
                            ents.extend([None] * len(res["tokens"]))
                            eids.extend([None] * len(res["tokens"]))
                            continue
                        # matched word: label only the word CORE; glued
                        # punctuation ("Orlenie.") stays outside the
                        # mention span, mirroring annotation boundaries
                        m = _re.match(r"^(\W*)(.*?)(\W*)$", word, _re.UNICODE)
                        lead, core, trail = m.group(1), m.group(2), m.group(3)
                        m_i, b, cls = hit
                        if m_i not in match_eids:
                            ent_counter += 1
                            match_eids[m_i] = f"{url}#e{ent_counter}"
                        eid = match_eids[m_i]
                        for part, is_core in ((lead, False), (core, True), (trail, False)):
                            if not part:
                                continue
                            res = tokenizer.tokenize(part)
                            toks.extend(res["tokens"])
                            tids.extend(res["token_ids"])
                            if is_core:
                                labels = [f"I-{cls}"] * len(res["tokens"])
                                if w_i == b and labels:
                                    labels[0] = f"B-{cls}"
                                ents.extend(labels)
                                eids.extend([eid] * len(res["tokens"]))
                            else:
                                ents.extend([None] * len(res["tokens"]))
                                eids.extend([None] * len(res["tokens"]))
                    out["url"].append(url)
                    out["sent_idx"].append(sent_idx)
                    out["sent_text"].append(sent)
                    out["tokens"].append(toks)
                    out["token_ids"].append(tids)
                    out["entities"].append(ents)
                    out["entity_ids"].append(eids)
                    out["n_entities"].append(len(match_eids))
                    out["mentions"].append(sentence_mentions(toks, ents, eids))
            if out["url"]:
                # an all-empty pandas frame infers float64 columns that
                # Arrow cannot cast to the array types
                yield pd.DataFrame(out)

    return src.mapInPandas(kernel, schema=schemas.SENTENCES)
