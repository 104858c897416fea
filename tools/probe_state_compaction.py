"""Stream-age growth probe (round-4 verdict #3): per-batch merge time,
manifest segment counts, and manifest byte size must stay FLAT over a
long stream. The two growth terms this probes were named in round 4:

* append tables accumulating one segment directory per batch (read =
  union over an ever-growing dir list) — fixed by commit-time
  compaction (state.py COMPACT_THRESHOLD);
* the per-batch FULL rewrite of the assignments table — fixed by
  replace_buckets (only buckets holding a changed lemma rewrite).

Protocol: ``n_batches`` equal-sized batches of fresh near-dup lemma
pairs through ``merge_mentions_batch``; each pair shares almost all its
3-gram shingles, so LSH links it, and every batch's lemmas are fresh,
so an incremental component merge keeps per-batch time flat while a
global one would climb with the accumulated edges. After each batch,
record wall time, per-table segment counts from MANIFEST.json,
manifest size in bytes, and how many assignment bucket segments the
batch rewrote. Flat = tail3/head3 of batch time ~1 modulo VM noise,
segment counts bounded by COMPACT_THRESHOLD+2, manifest size bounded.

Usage: python tools/probe_state_compaction.py [n_batches] [pairs_per_batch]
Prints one JSON line for PLANS.md / BENCH notes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 50
PER_BATCH = int(sys.argv[2]) if len(sys.argv) > 2 else 500


def main():
    from pyspark.sql import functions as F

    from semanticrelationextractionpolish_spark.session import get_spark
    from semanticrelationextractionpolish_spark.streaming.linking import (
        merge_mentions_batch,
    )
    from semanticrelationextractionpolish_spark.streaming.state import (
        read_state_table,
    )

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    state = "/tmp/probe_state_compaction"
    shutil.rmtree(state, ignore_errors=True)
    mpath = os.path.join(state, "MANIFEST.json")

    times, manifest_bytes, seg_counts, buckets_rewritten = [], [], [], []
    prev_bucket_paths: dict = {}
    for b in range(N_BATCHES):
        lo, hi = b * PER_BATCH, (b + 1) * PER_BATCH
        base = spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("lemma")
        )
        pair = base.select(F.concat("lemma", F.lit("a")).alias("lemma"))
        mentions = (
            base.unionByName(pair)
            .select(
                F.concat(F.lit("https://p/"), F.col("lemma")).alias("url"),
                F.lit(0).alias("sent_idx"),
                F.lit("e1").alias("entity_id"),
                F.lit("city_nam").alias("entity_class"),
                F.lit(0).alias("beg"),
                F.lit(1).alias("end"),
                F.col("lemma").alias("surface"),
                "lemma",
            )
            .localCheckpoint(eager=True)  # exclude synthesis from timing
        )
        t0 = time.time()
        merge_mentions_batch(spark, mentions, state, batch_id=b)
        times.append(round(time.time() - t0, 2))
        manifest = json.load(open(mpath))
        manifest_bytes.append(os.path.getsize(mpath))
        seg_counts.append(
            {t: len(s) for t, s in manifest["tables"].items()}
        )
        bucket_paths = {
            s["bucket"]: s["path"]
            for s in manifest["tables"].get("assignments", [])
            if "bucket" in s
        }
        buckets_rewritten.append(
            sum(
                1
                for k, p in bucket_paths.items()
                if prev_bucket_paths.get(k) != p
            )
        )
        prev_bucket_paths = bucket_paths
        print(
            f"batch {b}: {times[-1]}s segs={seg_counts[-1]} "
            f"manifest={manifest_bytes[-1]}B rewrote={buckets_rewritten[-1]}",
            file=sys.stderr,
        )

    # repeat phase: re-send batch 0's lemma population under NEW batch
    # ids. No new lemmas and no component merges -> the change set is
    # empty -> replace_buckets must rewrite ZERO assignment buckets
    # (the all-new-lemmas main phase above is the worst case, where
    # every bucket holds a changed key by pigeonhole; natural streams
    # sit between the two).
    repeat_rewrites = []
    for rb in range(N_BATCHES, N_BATCHES + 3):
        base = spark.range(0, PER_BATCH).select(
            F.md5(F.col("id").cast("string")).alias("lemma")
        )
        mentions = base.select(
            F.concat(F.lit("https://p/"), F.col("lemma")).alias("url"),
            F.lit(0).alias("sent_idx"),
            F.lit("e1").alias("entity_id"),
            F.lit("city_nam").alias("entity_class"),
            F.lit(0).alias("beg"),
            F.lit(1).alias("end"),
            F.col("lemma").alias("surface"),
            "lemma",
        ).localCheckpoint(eager=True)
        merge_mentions_batch(spark, mentions, state, batch_id=rb)
        manifest = json.load(open(mpath))
        bucket_paths = {
            s["bucket"]: s["path"]
            for s in manifest["tables"].get("assignments", [])
            if "bucket" in s
        }
        repeat_rewrites.append(
            sum(
                1
                for k, p in bucket_paths.items()
                if prev_bucket_paths.get(k) != p
            )
        )
        prev_bucket_paths = bucket_paths

    assigns = read_state_table(spark, state, "assignments")
    n_lemmas = assigns.count()
    n_comps = assigns.select("canonical").distinct().count()
    head = sum(times[:3]) / 3
    tail = sum(times[-3:]) / 3
    max_segs = {
        t: max(sc.get(t, 0) for sc in seg_counts) for t in seg_counts[-1]
    }
    print(
        json.dumps(
            {
                "probe": "state_compaction_flat_cost",
                "n_batches": N_BATCHES,
                "pairs_per_batch": PER_BATCH,
                "head3_avg_sec": round(head, 2),
                "tail3_avg_sec": round(tail, 2),
                "tail_over_head": round(tail / head, 2),
                "per_batch_sec": times,
                "max_segments_per_table": max_segs,
                "final_segments_per_table": seg_counts[-1],
                "manifest_bytes_first_last": [
                    manifest_bytes[0],
                    manifest_bytes[-1],
                ],
                "assign_buckets_rewritten_avg_tail10": round(
                    sum(buckets_rewritten[-10:])
                    / max(1, len(buckets_rewritten[-10:])),
                    1,
                ),
                "assign_buckets_rewritten_repeat_phase": repeat_rewrites,
                "n_lemmas": n_lemmas,
                "n_components": n_comps,
                "all_pairs_merged": n_comps == N_BATCHES * PER_BATCH,
            }
        )
    )


if __name__ == "__main__":
    main()
