"""Debug renderers (X12/X13): colored prediction lines + token tables.

Driver-side, human-in-the-loop inspection utilities - deliberately NOT
distributed operators (the reference uses them in notebooks on a
handful of rows; here they format collected rows or `df.show`-sized
samples). Formats mirror the reference byte-for-byte modulo the ANSI
library:

* ``format_sentence_table``: readers.py:20-26 ``print_single_sent``
  (and the per-index readers_kpwr.py:129-135 variant via ``row_idx``);
* ``format_model_input_table``: RelacjoSzukaczBERT.py:29-37
  ``_print_from_dataset``;
* ``render_prediction``: RelacjoSzukaczLSTM.py:90-103 /
  RelacjoSzukaczBERT.py:223-229 - ``<e1>..</e1>``/``<e2>..</e2>``
  spans highlighted yellow, the ``gold/pred`` pair colored blue when
  both NO_RELATION, green when they agree, red otherwise.
"""

from __future__ import annotations

import re

_ANSI = {"yellow": "33", "blue": "34", "green": "32", "red": "31"}
_MARKER_RE = re.compile(r"(<e[12]>.*?</e[12]>)")
NO_RELATION = "NO_RELATION"


def _color(text: str, fg: str, use_color: bool = True) -> str:
    if not use_color:
        return text
    return f"\x1b[{_ANSI[fg]}m{text}\x1b[0m"


def format_sentence_table(
    tokens, token_ids, entities, entity_ids, rels=None
) -> str:
    """The 5-array record as the reference's aligned table
    (readers.py:20-26)."""
    fmt = "{: >4} {: >15} {: >10} {: >40} {: >20}"
    lines = [fmt.format("i", "subword", "subword_id", "entities", "entity_ids")]
    for j in range(len(tokens)):
        lines.append(
            fmt.format(j, tokens[j], token_ids[j], str(entities[j]), str(entity_ids[j]))
        )
    if rels is not None:
        lines.append(f"Relations: {rels}")
    return "\n".join(lines)


def format_model_input_table(
    pieces, input_ids, attention_mask, e1_mask, e2_mask, relation_info=None
) -> str:
    """Tensorized row as the reference's mask table
    (RelacjoSzukaczBERT.py:29-37)."""
    fmt = "{: >4} {: >20} {: >15} {: >8} {: >8} {: >8}"
    lines = [
        fmt.format("idx", "subword", "subword_id", "attn_mask", "e1_mask", "e2_mask")
    ]
    for j in range(len(pieces)):
        lines.append(
            fmt.format(
                j, pieces[j], input_ids[j], attention_mask[j], e1_mask[j], e2_mask[j]
            )
        )
    if relation_info is not None:
        lines.append(f"Relation infos (orig): {relation_info}")
    return "\n".join(lines)


def render_prediction(
    sequence: str, gold_label: str, pred_label: str, use_color: bool = True
) -> str:
    """One colored prediction line (RelacjoSzukaczLSTM.py:97-103)."""
    seq = _MARKER_RE.sub(
        lambda m: _color(m.group(1), "yellow", use_color), sequence
    )
    labels_color = (
        "blue"
        if gold_label == pred_label == NO_RELATION
        else "green"
        if gold_label == pred_label
        else "red"
    )
    lab = _color(f"{gold_label}/{pred_label}", labels_color, use_color)
    return f"{seq} -> {lab}"


def show_scored(scored_df, n: int = 10, use_color: bool = True) -> list[str]:
    """Collect ``n`` scored pairs (url, tokens or detokenized text, gold,
    predicted) and render them as the reference's colored CLI output.
    Driver-side debug by design."""
    from .tokenizer import detokenize

    cols = set(scored_df.columns)
    rows = scored_df.limit(n).collect()
    out = []
    for r in rows:
        if "tokens" in cols and r["tokens"] is not None:
            seq = detokenize(r["tokens"])
        else:
            seq = r["url"]
        gold = r["gold_class"] if "gold_class" in cols else "?"
        # column-set check, not Row.get (pyspark Row has no .get)
        pred = (
            r["model_class"]
            if "model_class" in cols
            else (r["pred"] if "pred" in cols else "?")
        )
        line = render_prediction(seq, gold or "?", pred or "?", use_color)
        print(line)
        out.append(line)
    return out
