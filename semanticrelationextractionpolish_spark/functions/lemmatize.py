"""Deterministic Polish surface-form normalizer.

The reference relies on gold per-sentence entity indices and never
lemmatizes; the target pipeline (BASELINE.json north rule) adds
"lemma-based canonicalization of Polish surface forms" for entity
linking. This is a light, rule-based suffix stripper - linguistically
shallow but *deterministic*, which is what the linking
stage needs (the canonicalizer only requires that inflectional variants
of the same name map close enough for exact-lemma or LSH blocking to
bucket them together).

It runs only in Python: the page kernels lemmatize every mention
surface and pair between-text (``mentions.sentence_mentions``,
``pairs.document_pairs``), so a triple's subject/object lemma and the
mention lemma that linking assigns a node to come from this one
function.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

# Common Polish inflectional endings, longest-first so the regex engine
# strips the most specific suffix (public morphology knowledge).
_SUFFIXES = (
    "owego|owemu|iego|iemu|owie|owa|owi|iej|ich|imi|ami|ach|ech|ego|emu|ych"
    "|ów|om|em|ie|ym|im|ej|ę|ą|y|u|a|e|o|i"
)
_SUFFIX_RE = re.compile(f"(?:{_SUFFIXES})$")
_MIN_STEM = 4


@lru_cache(maxsize=200_000)
def lemma_token(token: str) -> str:
    """Lowercase, NFC-normalize, strip one inflectional suffix (keeping at
    least ``_MIN_STEM`` chars so short words pass through unchanged)."""
    t = unicodedata.normalize("NFC", token).lower().strip()
    if len(t) <= _MIN_STEM:
        return t
    stripped = _SUFFIX_RE.sub("", t)
    if len(stripped) < _MIN_STEM:
        return t[:_MIN_STEM]
    return stripped


@lru_cache(maxsize=200_000)
def lemma_phrase(phrase: str) -> str:
    # both levels memoized (pure functions; surfaces and their words
    # repeat heavily in real corpora): phrase hits skip the split, word
    # hits skip the NFC+regex (round-7, guide §4.5)
    return " ".join(lemma_token(t) for t in phrase.split() if t)

