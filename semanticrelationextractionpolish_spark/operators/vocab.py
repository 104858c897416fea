"""Label-vocabulary construction as Spark aggregations.

The reference walks the whole corpus with BeautifulSoup counting
``<ann chan="*_nam">`` tags and collecting relation names, then assigns
dense ids in sorted order with IOB/BILOU expansion and pinned
``O``/``NO_RELATION`` -> 0 (/root/reference/readers_kpwr.py:14-95). Here
the same result is a groupBy + window over the mention/relation tables -
partial aggregation and a single tiny shuffle instead of a serial scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import local_frame

IOB_PREFIXES = ["B-", "I-"]
BILOU_PREFIXES = ["B-", "I-", "L-", "U-"]


def entity_label_vocab(
    mentions: DataFrame,
    class_col: str = "entity_class",
    entity_encoding_scheme: str | None = "iob",
) -> DataFrame:
    """-> (label string, label_id int) with O=0 pinned, channels sorted,
    IOB doubled / BILOU quadrupled (readers_kpwr.py:48-77)."""
    counts = (
        mentions.where(F.col(class_col).endswith("_nam") | (F.col(class_col) == "ENT"))
        .groupBy(class_col)
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    if entity_encoding_scheme is None:
        prefixes = [""]
    elif entity_encoding_scheme == "iob":
        prefixes = IOB_PREFIXES
    elif entity_encoding_scheme == "bilou":
        prefixes = BILOU_PREFIXES
    else:
        raise ValueError(f"Unknown entity encoding scheme {entity_encoding_scheme}")

    w = Window.orderBy(class_col)
    ranked = counts.withColumn("rank", F.row_number().over(w) - 1)
    k = len(prefixes)
    expanded = ranked.select(
        F.posexplode(F.array(*[F.lit(p) for p in prefixes])).alias("pos", "pfx"),
        F.col(class_col),
        "rank",
        "n_mentions",
    ).select(
        F.concat("pfx", class_col).alias("label"),
        (F.lit(1) + F.col("rank") * k + F.col("pos")).alias("label_id"),
        "n_mentions",
    )
    o_row = local_frame(
        mentions.sparkSession,
        [("O", 0, 0)],
        "label string, label_id int, n_mentions long",
    )
    return o_row.unionByName(expanded.withColumn("label_id", F.col("label_id").cast("int")))


def relation_vocab(page_relations: DataFrame, add_no_rels: bool = True) -> DataFrame:
    """-> (rel_class, rel_id) with NO_RELATION=0 pinned
    (readers_kpwr.py:79-88)."""
    distinct = (
        page_relations.select("rel_class")
        .where(F.col("rel_class") != "NO_RELATION")
        .distinct()
    )
    w = Window.orderBy("rel_class")
    base = 1 if add_no_rels else 0
    ranked = distinct.withColumn(
        "rel_id", (F.row_number().over(w) - 1 + base).cast("int")
    )
    if add_no_rels:
        nr = local_frame(
            page_relations.sparkSession,
            [("NO_RELATION", 0)],
            "rel_class string, rel_id int",
        )
        return nr.unionByName(ranked)
    return ranked
