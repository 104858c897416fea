"""Structured-Streaming ingestion for the KG pipeline.

The reference has no streaming (SURVEY.md §2.10) and the north rule is
batch-with-checkpoints; this module exists for the continuous-ingestion
deployment mode: new page files land in a directory (the streaming
analog of new Iceberg snapshots), each micro-batch runs the SAME batch
operators via ``foreachBatch``, and exactly-once progress is delegated
to the streaming checkpoint. Late data is handled with an event-time
watermark on ``warc_ts`` for the windowed rate aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def read_page_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def page_rate_by_lang(pages_stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Watermarked windowed counts - the streaming-health metric table."""
    return (
        pages_stream.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
        )
    )


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a micro-batch whose file-source scan has fewer partitions
    than the session has cores. The extraction chain is deliberately
    zero-shuffle, so it inherits the scan's parallelism - and a trigger
    that pulled N files yields N tasks no matter how many executors
    exist (measured: the 500k-page streaming campaign sat at ~0.37 N->4N
    efficiency because every 2-file micro-batch ran 2 tasks on 8 cores).
    Conditional, so a production trigger with files >> cores (the 100 TB
    shape) pays no extra shuffle."""
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    relations_path: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incremental triple extraction: every micro-batch of new pages runs
    the batch stages (segment -> pairs -> score) against the static
    relations table and appends to the triples sink. Returns the started
    StreamingQuery (caller awaits termination)."""
    from ..operators.score import score_pairs, triples_from_scored
    from ..operators.segment import pairs_of, segment_and_pair

    static_rels = spark.read.parquet(relations_path)

    def process_batch(batch_df: DataFrame, batch_id: int):
        pl = batch_df.where(F.col("lang") == "pl")
        if pl.isEmpty():
            return
        sents = segment_and_pair(_spread(pl, spark), static_rels)
        triples = triples_from_scored(score_pairs(pairs_of(sents)))
        # per-batch partition + overwrite: foreachBatch is at-least-once,
        # so a replay after a crash rewrites the SAME partition instead
        # of appending duplicate evidence (round-4 review - the fix had
        # landed in stream_kg but not here). batch_id is ALSO written as
        # a long column inside the files (round-4 advice): readers of a
        # single batch_id=N directory get the column without partition
        # discovery, and read_triples_sink() restores the exact
        # pre-round-4 long-column contract for whole-sink reads (plain
        # discovery reads see the partition-inferred int - partition
        # columns take precedence over same-named file columns).
        triples.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(output_dir, "triples", f"batch_id={batch_id}"))

    stream = read_page_stream(spark, input_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_triples_sink(spark: SparkSession, output_dir: str) -> DataFrame:
    """Whole-sink reader for the ``triples`` sink written by
    ``stream_triples``/``stream_kg`` with the exact long ``batch_id``
    column contract. The sink is laid out as ``batch_id=N`` partition
    directories (so replays can idempotently overwrite one batch), and
    each file also carries ``batch_id`` as a long data column; a plain
    ``spark.read.parquet(sink)`` surfaces the partition-INFERRED int
    instead (partition columns shadow same-named file columns), so this
    reader disables partition discovery via recursiveFileLookup and
    takes the column from the files."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(output_dir, "triples"))
    )


def join_pages_with_annotations(
    pages_stream: DataFrame,
    ann_stream: DataFrame,
    max_delay: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: the page stream against a late-arriving
    annotation stream (url, e1_id, e2_id, rel_class, ann_ts), matched on
    url where the annotation lands within ``max_delay`` of the page's
    event time.

    Both sides carry event-time watermarks AND the join predicate bounds
    ann_ts to a range of warc_ts - that pair is what lets Spark EVICT
    join state (watermark + range condition); an equi-join alone would
    buffer both streams forever, which at web scale is an
    out-of-memory-by-design plan."""
    p = pages_stream.withWatermark("warc_ts", watermark).alias("p")
    a = ann_stream.withWatermark("ann_ts", watermark).alias("a")
    cond = (
        (F.col("p.url") == F.col("a.url"))
        & (F.col("a.ann_ts") >= F.col("p.warc_ts"))
        & (F.col("a.ann_ts") <= F.col("p.warc_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return p.join(a, cond).select(
        F.col("p.url").alias("url"),
        F.col("p.warc_ts").alias("warc_ts"),
        F.col("a.ann_ts").alias("ann_ts"),
        F.col("a.e1_id").alias("e1_id"),
        F.col("a.e2_id").alias("e2_id"),
        F.col("a.rel_class").alias("rel_class"),
    )


def stream_kg(
    spark: SparkSession,
    input_dir: str,
    relations_path: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    batch_metrics: list | None = None,
):
    """Full continuous KG construction - the north-rule pipeline in
    streaming form. Every micro-batch of new pages:

    1. runs the batch extraction stages (segment -> pairs -> score) and
       writes its triples to a ``batch_id=N`` partition directory with
       ``mode("overwrite")`` - replay after a crash rewrites the SAME
       partition instead of appending duplicates (plain append +
       foreachBatch is only at-least-once);
    2. merges the batch's mentions into the rolling canonicalization
       state (``merge_mentions_batch``: crash-atomic VersionedState +
       incremental component merge), so entity canonicalization stays
       current without re-linking history. The assignment table's
       bucket count follows the state's lemma count
       (``pick_assign_buckets``); there is nothing to size up front.

    ``streamed_graph`` assembles the canonical (nodes, edges) view from
    the triples sink + the assignment state; equality with batch
    ``build_kg(link=True)`` over the same pages is pinned by
    ``tests/test_streaming.py::test_stream_kg_matches_batch_graph``.

    ``batch_metrics``: optional driver-side list; each processed batch
    appends ``{"batch_id", "extract_sec", "sink_sec", "merge_sec"}``
    (foreachBatch runs on the driver, so a plain list works). The split
    is the scaling-attribution hook: extract+sink parallelize with the
    cluster, while the state merge is a fixed per-batch term (many
    small jobs + one manifest swap) that amortizes with BIGGER batches,
    not more executors - see the round-6 streaming campaign in
    BENCH/BASELINE.md.
    """
    import time as _time

    from ..operators.mentions import mentions_from_sentences
    from ..operators.score import score_pairs, triples_from_scored
    from ..operators.segment import pairs_of, segment_and_pair
    from .linking import merge_mentions_batch

    static_rels = spark.read.parquet(relations_path)

    def process_batch(batch_df: DataFrame, batch_id: int):
        pl = batch_df.where(F.col("lang") == "pl")
        if pl.isEmpty():
            return
        t0 = _time.time()
        sents = segment_and_pair(_spread(pl, spark), static_rels).localCheckpoint(
            eager=True
        )
        t1 = _time.time()
        triples = triples_from_scored(score_pairs(pairs_of(sents)))
        # batch_id as a long data column inside the partition files too
        # (same reader contract as stream_triples, round-4 advice)
        triples.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(output_dir, "triples", f"batch_id={batch_id}"))
        t2 = _time.time()
        assignments = merge_mentions_batch(
            spark, mentions_from_sentences(sents), state_dir, batch_id=batch_id
        )
        # the batch is fully committed (triples parquet + state
        # manifest) - release this batch's pinned blocks so a stream
        # running for days holds O(1) storage, not O(batches)
        from ..operators.materialize import release

        release(sents)
        release(assignments)
        if batch_metrics is not None:
            batch_metrics.append(
                {
                    "batch_id": batch_id,
                    "extract_sec": round(t1 - t0, 2),
                    "sink_sec": round(t2 - t1, 2),
                    "merge_sec": round(_time.time() - t2, 2),
                }
            )

    stream = read_page_stream(spark, input_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streamed_graph(spark: SparkSession, output_dir: str, state_dir: str) -> dict:
    """Assemble the canonical graph from a ``stream_kg`` run: triples
    from the partitioned sink, assignments/nodes from the rolling state,
    edges via the same broadcast joins as the batch ``link_kg``."""
    from ..operators.linking import canonical_nodes, edges_from_triples
    from .state import read_state_table

    sink = os.path.join(output_dir, "triples")
    if not os.path.exists(sink):
        raise FileNotFoundError(
            f"streamed_graph: no triples sink at {sink} - the stream "
            "processed no batches (e.g. every micro-batch was empty or "
            "had no 'pl' pages); nothing to assemble"
        )
    triples = spark.read.parquet(sink)
    assignments = read_state_table(spark, state_dir, "assignments")
    # one lemmas row per (lemma, batch): the node aggregation sums and
    # flattens across batches as it does across a component's lemmas
    lemmas = read_state_table(spark, state_dir, "lemmas")
    nodes = canonical_nodes(assignments.join(lemmas, "lemma"))
    edges = edges_from_triples(triples, assignments)
    return {
        "triples": triples,
        "assignments": assignments,
        "nodes": nodes,
        "edges": edges,
    }
