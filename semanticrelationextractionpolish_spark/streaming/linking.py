"""Incremental (streaming) entity canonicalization.

Engine addition beyond the reference (which is batch-only): continuous
ingestion keeps a persistent canonical-node state that each micro-batch
of NEW mentions merges into - without re-blocking the whole lemma
universe or re-solving the whole similarity graph per batch.

Per batch (``foreachBatch`` over a mentions stream):

1. aggregate the batch to (lemma, n_mentions, surfaces) and append it
   as a ``batch_id``-keyed segment of the lemma state;
2. compute MinHash signatures/band rows for the NEW lemmas ONLY and
   probe them against the accumulated band-row index - an incremental
   index probe costing ~new_lemmas x bucket occupancy, not the full
   O(n) re-blocking of batch ``lsh_candidate_pairs``;
3. Jaccard-verify candidates against the shingle state; the surviving
   edges are this batch's new edges (checkpointed for the merge below,
   never stored: no later batch reads them);
4. **incremental component merge** (round-3 verdict "Next" #4 - the
   old path re-ran connected components over the ENTIRE accumulated
   edge set every batch): map each new edge's endpoints through the
   existing assignment to their component representatives, run
   star-contraction only on that (tiny) representative graph, and
   recompose. Correctness: a component's canonical label is the MIN
   lemma it contains, so each representative IS the min of its old
   component, and the min reachable representative equals the min
   lemma of the merged component - exactly what batch CC over the full
   edge set would label it. Per-batch CC cost is proportional to new
   edges + touched components, independent of total graph size
   (probed: ``tools/probe_state_compaction.py``).

All state lives in a ``VersionedState`` (see ``streaming/state.py``):
immutable per-batch segments + one atomic manifest swap per batch, so
a crash at any point leaves the previous batch's complete state (the
round-3 in-place ``mode("overwrite")`` lost ALL accumulated state on a
mid-write crash), and ``foreachBatch`` replay re-stages the same
``batch_id`` segments instead of double-appending. In production every
table is an Iceberg table and the manifest swap is its snapshot
commit; the assignment table's full rewrite per batch would be a
MERGE INTO touching only re-labeled rows.

Correctness contract (tested): after the stream drains, the
assignments equal batch ``canonicalize()`` over all mentions at once.
One documented divergence: the ``MAX_BUCKET`` skew cap applies to
bucket sizes AS SEEN AT PROBE TIME, so a bucket that only exceeds the
cap in a later batch keeps its earlier edges (batch mode would drop
the whole bucket); equivalence is exact while buckets stay under the
cap. PINNED by ``test_stream_vs_batch_bucket_cap_divergence_pinned``
(round-4 verdict #7), which also records why eviction-on-cross was
rejected: star contraction only ever unions, so retracting a capped
bucket's earlier edges would need a full CC re-solve over the
remaining graph - the exact O(total) per-batch cost this design
removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linking import (
    DEFAULT_JACCARD,
    MAX_BUCKET,
    MIN_SIG_AGREE,
    _band_rows,
    cand_endpoints,
    connected_components,
    join_back,
    shingle_table,
    sig_agreement,
)
from ..operators.materialize import local_checkpoint_with_count
from .state import VersionedState

SIGS_SCHEMA = "lemma string, shingles array<string>, sigs array<int>"
BANDS_SCHEMA = "lemma string, band_idx int, band_hash int"
ASSIGN_SCHEMA = "lemma string, node_id long, canonical string"

# assignments bucketing: the smallest count, and the rows per bucket
# the count is sized for
ASSIGN_BUCKETS_DEFAULT = 32
ASSIGN_BUCKET_TARGET_ROWS = 250_000


def pick_assign_buckets(n_lemmas: int) -> int:
    """Power-of-two bucket count targeting ~250k assignment rows per
    bucket, clamped to [32, 8192]: at 1M lemmas -> 32, at 10^9 -> 4096
    (~244k rows/bucket) - per-bucket rewrite cost is O(total/n_buckets),
    so a fixed 32 at 10^9 lemmas would mean multi-GB rewrites per
    touched bucket. ``merge_mentions_batch`` sizes every batch's
    assignments from the state's lemma count: that count never falls and
    a replay recomputes it exactly, so the bucketing stays put from
    batch to batch and migrates (one full-table rewrite) only when the
    lemma count crosses the next power-of-two threshold."""
    b = ASSIGN_BUCKETS_DEFAULT
    while b < 8192 and n_lemmas > b * ASSIGN_BUCKET_TARGET_ROWS:
        b *= 2
    return b


def merge_mentions_batch(
    spark: SparkSession,
    batch_mentions: DataFrame,
    state_dir: str,
    jaccard: float = DEFAULT_JACCARD,
    batch_id: int = 0,
) -> DataFrame:
    """One incremental merge step; returns the rewritten assignments
    (lemma, node_id, canonical). Usable directly for batch-incremental
    jobs and via ``incremental_canonicalize`` for streams.

    Replay-idempotent (foreachBatch may re-deliver a batch after a
    failure): every appended segment is keyed by ``batch_id`` and
    REPLACES any prior segment of the same batch, and nothing becomes
    visible before the single atomic manifest swap at the end."""
    store = VersionedState(spark, state_dir)
    # a state_dir committed before the band-index table existed has sigs
    # but no bands: its probe would never see historical bands and new
    # lemmas would silently stop matching history. Such state dirs are
    # rejected, not migrated (every commit writes both tables).
    if store.segments("sigs") and not store.segments("bands"):
        raise ValueError(
            f"state_dir {state_dir!r} has committed signatures but no band "
            "index; it predates the band-index table and cannot be merged "
            "into - rebuild it from its mentions"
        )

    # null lemmas get no assignment, as in batch canonicalize (a null
    # would also never match the anti-join below and count as new on
    # every batch)
    batch_agg = (
        batch_mentions.where(F.col("lemma").isNotNull())
        .groupBy("lemma")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.collect_set("surface").alias("surfaces"),
        )
    )
    store.append_batch(
        "lemmas",
        batch_agg.withColumn("batch_id", F.lit(batch_id).cast("long")).select(
            "batch_id", "lemma", "n_mentions", "surfaces"
        ),
        batch_id,
    )

    # signatures/bands for lemmas the state has never seen. The read
    # EXCLUDES this batch's own committed segment (if any): a replayed
    # batch must re-derive its original "new lemmas" delta, not an empty
    # one that would clobber the good segment (state.py read docstring)
    old_sigs = store.read("sigs", SIGS_SCHEMA, exclude_batch=int(batch_id))
    new_lemmas = batch_agg.select("lemma").join(
        old_sigs.select("lemma"), "lemma", "left_anti"
    )
    # distinct checkpoint name per batch: the durable-barrier mode must
    # never resume a PREVIOUS batch's signature table for this one
    # shingle_table already returns a barrier (eager localCheckpoint or
    # durable parquet) - a second localCheckpoint here would pin a
    # duplicate copy of the table that release() can't reach
    # new_lemmas is unique by construction: batch_agg is grouped by
    # lemma and the anti-join only removes rows
    new_sigs = shingle_table(new_lemmas, "lemma", ckpt_name=f"inc_sigs_b{batch_id}")
    new_sig_rows = new_sigs.select("lemma", "shingles", "sigs")
    store.append_batch("sigs", new_sig_rows, batch_id)
    all_sigs = old_sigs.unionByName(new_sig_rows)

    # incremental LSH probe: NEW band rows vs the STORED band index.
    # The band index is itself an appended state table (the round-3
    # version re-derived every historical lemma's bands from the sig
    # state each batch - an O(total entities) minhash recompute that
    # grew with the stream); bucket-size gating reads only the buckets
    # this batch's bands touch, so probe cost follows batch size x
    # bucket occupancy, not history size.
    new_bands = _band_rows(new_sigs, "lemma").localCheckpoint(eager=True)
    store.append_batch("bands", new_bands, batch_id)
    all_bands = store.read("bands", BANDS_SCHEMA)  # staged view incl. this batch
    touched = all_bands.join(
        new_bands.select("band_idx", "band_hash").dropDuplicates(),
        ["band_idx", "band_hash"],
    ).localCheckpoint(eager=True)
    sizes = touched.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    probe = new_bands.join(
        sizes.where(F.col("bsz") <= MAX_BUCKET), ["band_idx", "band_hash"]
    )
    cand = (
        probe.select("band_idx", "band_hash", F.col("lemma").alias("x"))
        .join(
            touched.select("band_idx", "band_hash", F.col("lemma").alias("y")),
            ["band_idx", "band_hash"],
        )
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .dropDuplicates(["a", "b"])
    )
    # cand is checkpointed (with its count, in the same job) so the
    # semi-join and the verification join do not both re-run the probe
    cand, n_cand = local_checkpoint_with_count(cand)
    sh = new_edges = None
    n_new_edges = 0
    # empty-delta short-circuit (round-7): no candidate pair means the
    # verification output is empty BY CONSTRUCTION - the key semi-join,
    # the verify-table checkpoint and the two joins are skipped. The
    # common steady-state batch (no new near-duplicates) pays none of
    # the verify machinery; the count rides the candidate checkpoint as
    # an Observation (zero extra jobs).
    if n_cand:
        # verification as in the batch core (linking.lsh_pairs): the
        # state-sized sig table cut to candidate keys, then the join-back
        # and guarded Jaccard. sigs ride along for the SAME
        # signature-agreement gate the batch path applies inside its
        # pair explode - stream==batch equality requires the identical
        # predicate.
        sh = cand_endpoints(all_sigs, cand, "lemma").localCheckpoint(eager=True)
        new_edges, n_new_edges = local_checkpoint_with_count(
            join_back(cand, sh, "lemma")
            .where(
                sig_agreement(F.col("sigs_a"), F.col("sigs_b"))
                >= F.lit(MIN_SIG_AGREE)
            )
            .where(F.col("jaccard") >= F.lit(jaccard))
            .select("a", "b")
        )

    # --- incremental component merge -------------------------------------
    prev = store.read("assignments", ASSIGN_SCHEMA).select("lemma", "canonical")
    comp = None
    if n_new_edges:
        rep_of = lambda side: F.coalesce(F.col(f"canon_{side}"), F.col(side))
        rep_edges = (
            new_edges.join(
                prev.select(
                    F.col("lemma").alias("a"), F.col("canonical").alias("canon_a")
                ),
                "a",
                "left",
            )
            .join(
                prev.select(
                    F.col("lemma").alias("b"), F.col("canonical").alias("canon_b")
                ),
                "b",
                "left",
            )
            .select(rep_of("a").alias("ra"), rep_of("b").alias("rb"))
            .where(F.col("ra") != F.col("rb"))
            .dropDuplicates(["ra", "rb"])
        )
        # star contraction over REPRESENTATIVES only: cost follows this
        # batch's new edges + the components they touch, not the full
        # graph. result_barrier: the stream runs one CC per micro-batch
        # for the session's whole lifetime - CC's internal barriers must
        # not outlive the batch (released inside; comp's block below)
        comp = connected_components(
            rep_edges, "ra", "rb", ckpt_scope=f"inc_cc_b{batch_id}",
            result_barrier=True,
        )
    # else: empty-delta short-circuit (round-7) - zero verified new
    # edges cannot relabel anything: the representative joins, the CC
    # call and its input materialization (measured ~2-2.5 s/batch even
    # on an empty delta: two joins against the state-sized assignments
    # table just to produce zero rep_edges) are skipped, and the
    # relabel below degenerates to canonical = rep, which is exactly
    # what an empty comp table produces through coalesce.

    # the state's lemma set: every lemma got exactly one signature row,
    # in the batch that first saw it
    assignments = (
        all_sigs.select("lemma")
        .join(prev, "lemma", "left")
        .withColumn("rep", F.coalesce("canonical", "lemma"))
    )
    if comp is not None:
        assignments = assignments.join(
            comp.select(F.col("id").alias("rep"), "comp"), "rep", "left"
        ).select("lemma", F.coalesce("comp", "rep").alias("canonical"))
    else:
        assignments = assignments.select(
            "lemma", F.col("rep").alias("canonical")
        )
    assignments, n_lemmas = local_checkpoint_with_count(
        assignments.select(
            "lemma", F.xxhash64("canonical").alias("node_id"), "canonical"
        )
    )
    # bucketed MERGE INTO stand-in (round-4 verdict #3): only buckets
    # holding a changed assignment row are rewritten. The change set is
    # exactly (a) lemmas first seen this batch and (b) lemmas whose
    # component representative was relabeled by this batch's merge
    # (comp != id); every other lemma's (canonical, node_id) is
    # reproduced bit-for-bit by the recompute above, which is the
    # replace_buckets correctness contract.
    changed = new_lemmas.select("lemma")
    if comp is not None:
        changed = changed.unionByName(
            prev.join(
                comp.where(F.col("id") != F.col("comp")).select(
                    F.col("id").alias("canonical")
                ),
                "canonical",
            ).select("lemma")
        )
    store.replace_buckets(
        "assignments",
        assignments,
        changed,
        key_col="lemma",
        n_buckets=pick_assign_buckets(n_lemmas),
    )
    store.commit()  # the single atomic publish point for all the tables
    # every intermediate barrier's last consumer has now run (the state
    # writes + the assignments checkpoint are eager). Release them, or
    # a long-running stream pins every batch's sigs/bands/candidates in
    # executor storage forever (materialize.release docstring). The
    # returned assignments checkpoint is the CALLER's to release.
    from ..operators.materialize import release

    for df in (new_sigs, new_bands, touched, cand, sh, new_edges, comp):
        if df is not None:
            release(df)
    return assignments


def incremental_canonicalize(
    spark: SparkSession,
    mentions_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    jaccard: float = DEFAULT_JACCARD,
    available_now: bool = True,
):
    """foreachBatch driver for the merge step. Returns the started
    StreamingQuery; exactly-once batch replay is the streaming
    checkpoint's job, and the state writes are idempotent under replay
    (re-merging the same batch reproduces the same state)."""

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        assignments = merge_mentions_batch(
            spark, batch_df, state_dir, jaccard, batch_id=batch_id
        )
        # this driver never reads the in-memory result (next batch
        # reads committed state from disk) - drop its pinned block
        from ..operators.materialize import release

        release(assignments)

    writer = mentions_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
