"""Explicit schemas for every stage boundary.

The reference enforces shape only via inline asserts
(/root/reference/readers.py:637-638, DataProvider.py:309-311); here every
stage has a declared StructType so Catalyst can prune columns and so
checkpoint tables are self-describing.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- source: Common-Crawl-style pages (driver input_hint) -------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# gold relation annotations, normalized from the reference's
# {doc_id: {(e1,e2): class}} dict (DataProvider.py:66-91)
PAGE_RELATIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("e1_id", T.StringType(), False),
        T.StructField("e2_id", T.StringType(), False),
        T.StructField("rel_class", T.StringType(), False),
    ]
)

# one row per (sentence, entity id): the span of the id's tagged tokens
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_class", T.StringType(), True),
        T.StructField("beg", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("surface", T.StringType(), True),
        T.StructField("lemma", T.StringType(), True),
    ]
)

# a sentence's mention: every MENTIONS column except the sentence key
MENTION = T.StructType(
    [f for f in MENTIONS.fields if f.name not in ("url", "sent_idx")]
)

# --- sentence IR (the reference's 5-parallel-array record,
#     DataProvider.py:144-150), carrying the sentence's mentions --------------
SENTENCES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("sent_text", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.StringType()), True),
        T.StructField("token_ids", T.ArrayType(T.IntegerType()), True),
        T.StructField("entities", T.ArrayType(T.StringType()), True),
        T.StructField("entity_ids", T.ArrayType(T.StringType()), True),
        T.StructField("n_entities", T.IntegerType(), True),
        T.StructField("mentions", T.ArrayType(MENTION), True),
    ]
)

# one row per (sentence, entity pair): the reference's per-relation explode
# (readers.py:506-534 via insert_positional_tokens)
PAIRS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("e1_id", T.StringType(), False),
        T.StructField("e2_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), True),
        T.StructField("token_ids", T.ArrayType(T.IntegerType()), True),
        T.StructField("entities", T.ArrayType(T.StringType()), True),
        T.StructField("e1_beg", T.IntegerType(), True),
        T.StructField("e1_end", T.IntegerType(), True),
        T.StructField("e2_beg", T.IntegerType(), True),
        T.StructField("e2_end", T.IntegerType(), True),
        T.StructField("gold_class", T.StringType(), True),
        T.StructField("e1_surface", T.StringType(), True),
        T.StructField("e2_surface", T.StringType(), True),
        T.StructField("between_text", T.StringType(), True),
        T.StructField("e1_lemma", T.StringType(), True),
        T.StructField("e2_lemma", T.StringType(), True),
        T.StructField("between_lemma", T.StringType(), True),
    ]
)

# a skinny pair: every PAIRS column except the sentence key and the
# marker-inserted arrays, which only the tensorize path reads
MARKED_ARRAYS = ("tokens", "token_ids", "entities")
PAIR = T.StructType(
    [
        f
        for f in PAIRS.fields
        if f.name not in ("url", "sent_idx", *MARKED_ARRAYS)
    ]
)

# segment_and_pair's output: a sentence row carrying its own skinny pairs
SENTENCE_PAIRS = T.StructType(
    SENTENCES.fields + [T.StructField("pairs", T.ArrayType(PAIR), True)]
)
