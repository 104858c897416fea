"""Deterministic subword tokenizer.

Plays the role of the reference's ``WrappedTokenizer``
(/root/reference/readers.py:28-130) without external model downloads
(BPEmb/HuggingFace are unavailable and would be nondeterministic across
versions anyway). Semantics preserved:

* subword splitting with the SentencePiece-style ``▁`` word-initial marker
  (BPEmb convention),
* the "punctuation fix": a document consisting of a single ``.`` or ``,``
  tokenizes to the bare punctuation token, not ``▁.``
  (readers.py:88-101),
* special positional tokens ``<e1> </e1> <e2> </e2>`` (scheme_1) appended
  after the base vocabulary (readers.py:39-44),
* ``tokenize`` returns {'tokens': [...], 'token_ids': [...]} exactly like
  the bpemb branch (readers.py:83-108).

Token ids are stable content hashes (crc32 into a fixed vocab range), so
the mapping is identical on every executor with zero shared state - a
property the reference gets from a frozen embedding vocab and we get for
free. The tokenizer is a tiny immutable object, safe to construct inside
pandas-UDF workers (one per Arrow batch iterator, not per row).
"""

from __future__ import annotations

import re
import unicodedata
import zlib

WORD_MARKER = "▁"  # '▁' SentencePiece word-initial marker

VOCAB_SIZE = 50_000
# scheme_1 positional tokens live right after the "base vocab", mirroring
# readers.py:42-44 (last_index..last_index+3).
SPECIAL_TOKEN_IDS = {
    "<e1>": VOCAB_SIZE,
    "</e1>": VOCAB_SIZE + 1,
    "<e2>": VOCAB_SIZE + 2,
    "</e2>": VOCAB_SIZE + 3,
}

_TOKEN_RE = re.compile(r"[0-9]+|[^\W\d_]+|[^\w\s]", re.UNICODE)
# max subword length before splitting (BPE-ish chunking)
_MAX_PIECE = 6


def _stable_id(piece: str) -> int:
    """Deterministic token id in [1, VOCAB_SIZE): crc32 of NFC utf-8."""
    return 1 + (zlib.crc32(piece.encode("utf-8")) % (VOCAB_SIZE - 1))


def _split_word(word: str, word_initial: bool) -> list[str]:
    """Greedy fixed-stride subword split; the first piece carries ``▁``
    only when the token is preceded by whitespace/start-of-text (the
    SentencePiece convention: ``▁`` encodes the preceding space, so
    punctuation glued to a word gets no marker)."""
    pieces = []
    for start in range(0, len(word), _MAX_PIECE):
        pieces.append(word[start : start + _MAX_PIECE])
    if word_initial:
        pieces[0] = WORD_MARKER + pieces[0]
    return pieces


class DeterministicTokenizer:
    """Drop-in for the reference tokenizer's bpemb/scheme_1 configuration."""

    # bounded per-instance memo of the no-kwargs tokenize path: the
    # tokenizer is a pure function of its input string, and real corpora
    # (and the synthetic template corpus especially) re-tokenize the
    # same inter-entity slices constantly. ~100 B/entry; cleared
    # wholesale at the cap so a pathological vocabulary cannot grow the
    # worker's memory unboundedly (round-7, guide §4.5: amortize
    # per-task work across the batch iterator).
    _MEMO_CAP = 200_000

    def __init__(self, lowercase: bool = True, positional_scheme: str = "scheme_1"):
        self.lowercase = lowercase
        self._memo: dict[str, tuple[list[str], list[int]]] = {}
        self.special_token_ids = dict(SPECIAL_TOKEN_IDS)
        # scheme_2 markers '$'/'#' (readers.py:57-60): the reference maps
        # them to the BERT vocab's ORDINARY '$'/'#' token ids - mirrored
        # here as the same stable content-hash ids plain tokenization
        # would assign, so both schemes are always resolvable
        self.special_token_ids["$"] = _stable_id("$")
        self.special_token_ids["#"] = _stable_id("#")
        if positional_scheme == "scheme_2":
            # readers.py:58 ees_map for scheme_2
            self.ees_map = {"e1_beg": "$", "e1_end": "$", "e2_beg": "#", "e2_end": "#"}
        else:
            # readers.py:41 ees_map for scheme_1
            self.ees_map = {
                "e1_beg": "<e1>",
                "e1_end": "</e1>",
                "e2_beg": "<e2>",
                "e2_end": "</e2>",
            }

    def _pieces(self, text: str) -> list[str]:
        text = unicodedata.normalize("NFC", text)
        if self.lowercase:
            text = text.lower()
        out: list[str] = []
        for m in _TOKEN_RE.finditer(text):
            word_initial = m.start() == 0 or text[m.start() - 1].isspace()
            out.extend(_split_word(m.group(0), word_initial))
        return out

    def _tokenize_base(self, doc: str) -> tuple[list[str], list[int]]:
        tokens = self._pieces(doc)
        # punctuation fix (readers.py:88-101): lone '▁.' / '▁,' collapse
        if tokens == [WORD_MARKER + "."]:
            tokens = ["."]
        if tokens == [WORD_MARKER + ","]:
            tokens = [","]
        return tokens, [_stable_id(t) for t in tokens]

    def tokenize(self, doc: str, **kwargs) -> dict:
        if not kwargs:
            hit = self._memo.get(doc)
            if hit is None:
                hit = self._tokenize_base(doc)
                if len(self._memo) >= self._MEMO_CAP:
                    self._memo.clear()
                self._memo[doc] = hit
            # fresh lists: callers extend/mutate the returned arrays
            return {"tokens": list(hit[0]), "token_ids": list(hit[1])}
        tokens, token_ids = self._tokenize_base(doc)
        if kwargs.get("enclose_e1") is True:  # readers.py:102-104
            tokens = ["<e1>"] + tokens + ["</e1>"]
            token_ids = (
                [self.special_token_ids["<e1>"]]
                + token_ids
                + [self.special_token_ids["</e1>"]]
            )
        if kwargs.get("enclose_e2") is True:  # readers.py:105-107
            tokens = ["<e2>"] + tokens + ["</e2>"]
            token_ids = (
                [self.special_token_ids["<e2>"]]
                + token_ids
                + [self.special_token_ids["</e2>"]]
            )
        return {"tokens": tokens, "token_ids": token_ids}


def detokenize(tokens) -> str:
    """Inverse of the ``▁`` convention (readers.py:112-120): a piece's
    leading ``▁`` marks a word start and becomes a space; a ``▁``
    anywhere else is text and stays. The package's one detokenizer:
    mention surfaces, pair between-texts and the debug renderer."""
    return "".join(
        (" " + t[1:]) if t.startswith(WORD_MARKER) else t for t in tokens
    ).strip()


_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")


def sent_tokenize(text: str) -> list[str]:
    """Deterministic sentence splitter standing in for nltk.sent_tokenize
    (readers.py:274,447). Splits on whitespace following ., ! or ?."""
    parts = [s for s in _SENT_SPLIT_RE.split(text) if s.strip()]
    return parts if parts else ([text] if text else [])
