"""Incremental (streaming) entity canonicalization.

Engine addition beyond the reference (which is batch-only): continuous
ingestion keeps a persistent canonical-node state that each micro-batch
of NEW mentions merges into - without re-blocking the whole lemma
universe or re-solving the whole similarity graph per batch.

Per batch (``foreachBatch`` over a mentions stream):

1. aggregate the batch to (lemma, n_mentions, surfaces) and append it
   as a ``batch_id``-keyed segment of the lemma state;
2. compute MinHash signatures/band rows for the NEW lemmas ONLY and
   probe them against the accumulated band-row index: the members of
   every bucket a new band row touches (old ones with their sigs from
   the signature state, new ones flagged new) go through the batch
   core's ``capped_bucket_pairs`` with its signature-agreement gate
   plus "at least one member is new" - ~new_lemmas x bucket occupancy
   pairs, not a full re-blocking, and accidental band collisions never
   reach a shuffle;
3. Jaccard-verify candidates against the shingle state (``join_back``,
   as in the batch core): this batch's new edges (never stored: no
   later batch reads them);
4. **incremental component merge**: map each new edge's endpoints
   through the existing assignment to their component representatives,
   run star-contraction only on that (tiny) representative graph, and
   recompose. Correctness: a component's canonical label is the MIN
   lemma it contains, so each representative IS the min of its old
   component, and the min reachable representative equals the min
   lemma of the merged component - exactly what batch CC over the full
   edge set would label it. Per-batch CC cost is proportional to new
   edges + touched components, independent of total graph size
   (probed: ``tools/probe_state_compaction.py``).

All state lives in a ``VersionedState`` (see ``streaming/state.py``):
immutable per-batch segments + one atomic manifest swap per batch, so
a crash at any point leaves the previous batch's complete state, and
``foreachBatch`` replay re-stages the same ``batch_id`` segments
instead of double-appending. In production every table is an Iceberg
table and the manifest swap is its snapshot commit.

Correctness contract (tested): after the stream drains, the
assignments equal batch ``canonicalize()`` over all mentions at once.
One documented divergence: the ``MAX_BUCKET`` skew cap applies to
bucket sizes AS SEEN AT PROBE TIME, so a bucket that only exceeds the
cap in a later batch keeps its earlier edges (batch mode would drop
the whole bucket); equivalence is exact while buckets stay under the
cap. PINNED by ``test_stream_vs_batch_bucket_cap_divergence_pinned``,
which also records why eviction-on-cross was rejected: star
contraction only ever unions, so retracting a capped bucket's earlier
edges would need a full CC re-solve over the remaining graph - the
exact O(total) per-batch cost this design removes.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linking import (
    DEFAULT_JACCARD,
    MAX_BUCKET,
    MIN_SIG_AGREE,
    _band_rows,
    capped_bucket_pairs,
    cand_endpoints,
    connected_components,
    join_back,
    shingle_table,
    sig_agreement,
)
from ..operators.materialize import local_checkpoint_with_count, release
from .state import VersionedState

log = logging.getLogger(__name__)

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
    (lemma, node_id, canonical). ``stream_kg`` calls it once per
    micro-batch; batch-incremental jobs call it directly. Logs one
    ``stream_merge`` JSON record per call: the batch's new band rows,
    candidates, verified edges, which short-circuit fired, the state's
    lemma count and the assignment bucket count.

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
    # new_lemmas is unique by construction (batch_agg is grouped by
    # lemma). shingle_table returns a barrier, named per batch so the
    # durable-barrier mode never resumes a PREVIOUS batch's table
    new_sigs = shingle_table(new_lemmas, "lemma", ckpt_name=f"inc_sigs_b{batch_id}")
    new_sig_rows = new_sigs.select("lemma", "shingles", "sigs")
    store.append_batch("sigs", new_sig_rows, batch_id)
    all_sigs = old_sigs.unionByName(new_sig_rows)

    # incremental LSH probe: NEW band rows vs the STORED band index
    # (an appended state table, so no historical lemma is re-hashed),
    # through the batch core's capped, gated pair explode over the
    # buckets this batch's bands touch. The new band rows carry their
    # sigs for the signature-agreement gate; the state segment is
    # written without them, so the band table keeps its schema.
    new_bands, n_new_bands = local_checkpoint_with_count(
        _band_rows(new_sigs, "lemma", keep=("sigs",))
    )
    store.append_batch("bands", new_bands.drop("sigs"), batch_id)
    bucket = ["band_idx", "band_hash"]
    cand = sh = new_edges = None
    n_cand = n_new_edges = 0
    # empty-delta short-circuits (round-7): no new band row means no
    # candidate, and no candidate means an empty verification output BY
    # CONSTRUCTION - the probe, the key semi-join and the verify joins
    # are skipped. The common steady-state batch (no new lemma, or no
    # new near-duplicate) pays none of that machinery; each count rides
    # its checkpoint as an Observation (zero extra jobs).
    if n_new_bands:
        old_members = (
            store.read("bands", BANDS_SCHEMA, exclude_batch=int(batch_id))
            .join(new_bands.select(*bucket).dropDuplicates(), bucket, "left_semi")
            .join(old_sigs.select("lemma", "sigs"), "lemma")
            .withColumn("new", F.lit(False))
        )
        members = old_members.unionByName(
            new_bands.withColumn("new", F.lit(True))
        ).localCheckpoint(eager=True)
        # the cap sees each touched bucket's full size (old + new
        # members) AS AT PROBE TIME; pairs need one new member - old
        # pairs were probed by the batch that brought them
        cand, n_cand = local_checkpoint_with_count(
            capped_bucket_pairs(
                members,
                bucket,
                F.struct(F.col("lemma").alias("k"), "sigs", "new"),
                lambda a, b: a["k"] < b["k"],
                MAX_BUCKET,
                pair_pred=lambda a, b: (a["new"] | b["new"])
                & (sig_agreement(a["sigs"], b["sigs"]) >= F.lit(MIN_SIG_AGREE)),
            ).select(F.col("a.k").alias("a"), F.col("b.k").alias("b"))
        )
        release(members)
    if n_cand:
        # verification as in the batch core (linking.lsh_pairs): the
        # state-sized shingle table cut to candidate keys, then the
        # join-back and the Jaccard threshold
        sh = cand_endpoints(
            all_sigs.select("lemma", "shingles"), cand, "lemma"
        ).localCheckpoint(eager=True)
        new_edges, n_new_edges = local_checkpoint_with_count(
            join_back(cand, sh, "lemma")
            .where(F.col("jaccard") >= F.lit(jaccard))
            .select("a", "b")
        )

    # --- incremental component merge -------------------------------------
    prev = store.read("assignments", ASSIGN_SCHEMA).select("lemma", "canonical")
    comp = None
    if n_new_edges:
        def canon(side):
            return prev.select(
                F.col("lemma").alias(side), F.col("canonical").alias(f"c{side}")
            )

        rep_edges = (
            new_edges.join(canon("a"), "a", "left")
            .join(canon("b"), "b", "left")
            .select(F.coalesce("ca", "a").alias("ra"), F.coalesce("cb", "b").alias("rb"))
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
    # else: zero verified new edges relabel nothing - the representative
    # joins against the state-sized assignments and the CC call are
    # skipped, and the relabel below degenerates to canonical = rep

    # the state's lemma set: every lemma got exactly one signature row,
    # in the batch that first saw it
    assignments = all_sigs.select("lemma").join(prev, "lemma", "left")
    canonical = F.coalesce("canonical", "lemma")
    if comp is not None:
        comp_of = comp.select(F.col("id").alias("rep"), "comp")
        assignments = assignments.join(comp_of, canonical == comp_of.rep, "left")
        canonical = F.coalesce("comp", canonical)
    assignments, n_lemmas = local_checkpoint_with_count(
        assignments.select(
            "lemma", F.xxhash64(canonical).alias("node_id"), canonical.alias("canonical")
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
    n_buckets = pick_assign_buckets(n_lemmas)
    store.replace_buckets(
        "assignments", assignments, changed, key_col="lemma", n_buckets=n_buckets
    )
    store.commit()  # the single atomic publish point for all the tables
    counts = {
        "new_band_rows": n_new_bands,
        "candidates": n_cand,
        "verified_edges": n_new_edges,
    }
    # the first zero count is the short-circuit: every step after it skipped
    fired = next((f"no_{k}" for k, n in counts.items() if not n), None)
    log.info(
        "stream_merge %s",
        json.dumps(
            {"batch_id": int(batch_id), **counts, "short_circuit": fired,
             "n_lemmas": n_lemmas, "assign_buckets": n_buckets}
        ),
    )
    # every intermediate barrier's last consumer has now run (the state
    # writes + the assignments checkpoint are eager). Release them, or
    # a long-running stream pins every batch's sigs/bands/candidates in
    # executor storage forever (materialize.release docstring). The
    # returned assignments checkpoint is the CALLER's to release.
    for df in (new_sigs, new_bands, cand, sh, new_edges, comp):
        if df is not None:
            release(df)
    return assignments
