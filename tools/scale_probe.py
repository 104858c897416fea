"""At-scale probes for the dedup family and connected components.

The driver sf tables hold only 500 documents; these probes run the
production-path operators at 6 orders of magnitude more graph nodes /
400x more documents than the correctness fixtures, so the scale claims
in PLANS.md are measured, not asserted:

* dedup: 200k synthetic documents (deterministic, ~5% planted
  near-duplicates) through exact / MinHash(md5) / SimHash;
* connected components: a 1M-node CHAIN - the adversarial
  O(diameter) case (min-label propagation would need ~1M rounds;
  star contraction must finish in ~log2(n) ~ 20).

Usage: python tools/scale_probe.py [n_docs] [n_chain]
Prints one JSON line for PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
N_CHAIN = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000


def main():
    from pyspark.sql import functions as F

    from semanticrelationextractionpolish_spark.operators import dedup as DD
    from semanticrelationextractionpolish_spark.operators.linking import (
        connected_components,
    )
    from semanticrelationextractionpolish_spark.session import get_spark

    spark = get_spark(app_name="scale-probe", cores=16, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_docs": N_DOCS, "n_chain": N_CHAIN}

    # --- synthetic documents: 32-word texts from a deterministic hash
    # stream; every 20th doc is a near-copy of its predecessor (one word
    # changed) so the near-dup paths have real work
    base = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(
                            F.when(
                                (F.pmod("id", F.lit(20)) == 1) & (F.lit(k) > 0),
                                F.col("id") - 1,  # near-copy of predecessor
                            ).otherwise(F.col("id")),
                            F.lit(k),
                        ),
                        F.lit(5000),
                    ),
                )
                for k in range(32)
            ],
        ).alias("text"),
    )
    docs = base.repartition(64).localCheckpoint(eager=True)
    docs.count()

    for name, fn in (
        ("exact", lambda d: DD.exact_dedup(d)),
        ("minhash", lambda d: DD.minhash_near_dup_pairs(d, jaccard=0.7)),
        ("simhash", lambda d: DD.simhash_near_dup_pairs(d, max_hamming=6)),
    ):
        t0 = time.time()
        n = fn(docs).count()
        out[name] = {"sec": round(time.time() - t0, 1), "rows": n,
                     "docs_per_sec": round(N_DOCS / (time.time() - t0))}

    # --- 1M-node chain: the unbounded-diameter adversary
    chain = spark.range(N_CHAIN - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    t0 = time.time()
    comp = connected_components(chain)
    n_comp = comp.select("comp").distinct().count()
    out["cc_chain"] = {
        "sec": round(time.time() - t0, 1),
        "n_components": n_comp,
        "nodes": N_CHAIN,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
