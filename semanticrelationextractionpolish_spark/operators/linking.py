"""Entity linking & canonicalization: lemma keys, MinHash-LSH blocking,
connected components.

Target-only stage (BASELINE.json north rule; the reference stops at
per-sentence triples). Everything is DataFrame algebra - the MinHash
signatures are built with JVM-side ``hash``/``transform``/``array_min``
higher-order functions (no Python, no pyspark.ml Vector boxing), so the
blocking stage is a pure whole-stage-codegen map followed by one shuffle
on band keys.

Scale design:

* LSH blocking turns the O(n^2) surface-similarity self-join into a
  band-bucket equi-join (J7 in SURVEY.md); band buckets are capped
  (``MAX_BUCKET``) so a degenerate hot bucket cannot blow up the join -
  the same skew-guard philosophy as the reference's pair caps.
* Band rows are SKINNY - ``(key, band_idx, band_hash)`` only. The
  round-2 plan carried each doc's full shingle array through the 8-way
  band explode, the bucket-cap join, and both sides of the candidate
  self-join (~8x of array payload in the pipeline's biggest shuffles at
  scale); candidates now join back to the one-row-per-key shingle table
  for Jaccard verification - same result set by construction, since
  verification inputs are per-key, not per-band.
* One LSH core, ``lsh_pairs`` (band explode -> capped bucket pairs ->
  size-adaptive verify -> guarded Jaccard), serves linking and MinHash
  dedup; the streaming merge probes incrementally with the same gated
  pair explode (``capped_bucket_pairs``) and the same join-back and
  guarded Jaccard (``join_back``).
* Connected components is alternating large-star/small-star contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14): O(log n) rounds regardless of component diameter. The
  round-2 min-label propagation needed O(diameter) rounds, so a
  transitive near-dup chain longer than the round cap exited the
  loop with silently-split components; non-convergence now fails loudly.
  Its label is the component's minimum id on every path, so
  ``canonicalize`` takes the canonical lemma straight from the label.
* Lineage barriers go through ``materialize.barrier``: localCheckpoint
  by default, durable _SUCCESS-gated parquet stage checkpoints when
  ``spark.semrex.checkpointDir`` is set (executor-loss-survivable /
  kill-resumable - the production mode). Sizes that pick a plan shape
  (LSH key count, CC edge count and id bytes, CC fixed-point stats)
  ride the barrier's own job via ``materialize.barrier_with_metrics``.
"""

from __future__ import annotations

import json
import logging
import threading

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .materialize import barrier, barrier_with_metrics

log = logging.getLogger(__name__)

N_HASHES = 16
N_BANDS = 8  # 2 rows per band: P(collide) ~= 1-(1-s^2)^8, >0.94 at s=0.55
SHINGLE = 3
MAX_BUCKET = 64  # skew guard on a single LSH bucket
DEFAULT_JACCARD = 0.42
# signature-agreement pre-gate on banded candidates (round-6): a pair
# that banded together has >= 2 of its 16 minhashes equal by
# construction; requiring MIN_SIG_AGREE total equal positions filters
# ACCIDENTAL collisions before they reach any shuffle or the shingle
# verification join. Derivation at the DEFAULT_JACCARD = 0.42 operating
# point: a true boundary pair's 14 unforced positions are ~Bin(14,
# 0.42), so P(total < 4) ~= 0.005 - a 0.5% additional miss rate at the
# exact threshold, vs the band S-curve's own 21% there; an accidental
# pair over a SMALL shingle universe (hex ids: expected cross-lemma
# jaccard ~0.004) has E[total] ~= 2.06, so the gate removes ~99.8% of
# them. Measured on the 1M-lemma campaign shape: 48M candidates -> the
# ~100k true pair set, verify stage 208 s -> seconds. The gate keeps
# lsh_candidate_pairs' contract (probabilistic recall - it already
# misses pairs that never band together); stream and batch apply the
# SAME predicate so stream==batch equality is preserved.
MIN_SIG_AGREE = 4

# key universes at or below this size skip the LSH verification
# reduction stages (candidate barrier + key semi-join + verify-table
# barrier): at small scale those are two extra materialization jobs
# protecting against re-scans that cost less than the jobs themselves,
# while above the cap the round-6 reduction shape is exactly right.
# The count is free - it rides the signature-table materialization as
# an Observation (materialize.barrier_with_metrics).
SMALL_SIG_TABLE_KEYS = 200_000


def sig_agreement(sigs_a, sigs_b):
    """Number of equal positions between two minhash signature arrays."""
    return F.size(
        F.filter(F.zip_with(sigs_a, sigs_b, lambda x, y: x == y), lambda eq: eq)
    )


def _shingles(col):
    """Distinct character 3-grams, via sequence+transform (JVM-side)."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    n = F.greatest(F.length(padded) - (SHINGLE - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: padded.substr(i, F.lit(SHINGLE)))
    )


def _bands_expr():
    """Per-key band-key array: hash of each band's signature slice."""
    rows_per_band = N_HASHES // N_BANDS
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda b: F.hash(
            b, F.slice(F.col("sigs"), b * rows_per_band + 1, rows_per_band)
        ),
    )


def shingle_table(
    df: DataFrame, key: str = "lemma", ckpt_name: str | None = None
) -> DataFrame:
    """One row per key of ``df``, which must already be unique per key:
    (key, shingles, sigs, bands) - the MinHash signature table.
    Materialized (barrier) because it feeds both the band explode and
    the verification join-back, and because Generate would otherwise
    re-evaluate the 16 array_min signature scans per exploded band (8x).
    Callers invoking this repeatedly on DIFFERENT inputs in one job
    (e.g. streaming incremental linking) must pass a distinct
    ``ckpt_name`` per call, or durable-checkpoint mode would resume the
    first call's table."""
    return barrier(_shingle_plan(df, key, True), ckpt_name or f"lsh_sigs_{key}")


def _shingle_plan(df: DataFrame, key: str, assume_distinct: bool) -> DataFrame:
    """The un-barriered shingle/signature plan behind ``shingle_table``
    (callers that need the materialization's row count ride it with
    ``materialize.barrier_with_metrics``)."""
    keyed = df.select(key) if assume_distinct else df.select(key).distinct()
    with_sh = keyed.withColumn("shingles", _shingles(F.col(key)))
    # one nested-HOF expression for all N_HASHES signatures (instead of N
    # separate aggregate columns): an order of magnitude less codegen for
    # the driver to compile, same result. NB: HOF lambdas must be
    # single-arg - a second parameter would be bound to the element index.
    sigs = F.transform(
        F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
        lambda i: F.array_min(
            F.transform(F.col("shingles"), lambda s: F.hash(s, i))
        ),
    )
    # band keys as a per-key 8-element array INSIDE the same
    # materialization: callers posexplode the checkpointed array instead
    # of barriering the exploded rows separately - one materialization
    # job and one executor-storage copy fewer per LSH invocation
    # (round-7)
    return with_sh.withColumn("sigs", sigs).withColumn("bands", _bands_expr())


def _band_rows(
    sig_table: DataFrame, key: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Band rows (key, band_idx, band_hash) - skinny by default; ``keep``
    names extra sig-table columns to carry (e.g. ``("sigs",)`` when the
    in-bucket pair explode applies the signature-agreement gate).

    The explode reads the sig table's materialized ``bands`` array, so
    re-scanning the band rows never recomputes the band keys."""
    return sig_table.select(
        key, *keep, F.posexplode("bands").alias("band_idx", "band_hash")
    )


def capped_bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    member: "F.Column",
    less_than,
    max_bucket: int,
    pair_pred=None,
) -> DataFrame:
    """Capped in-bucket pair generation: (bucket..., member) rows ->
    distinct ordered pairs (a, b) of members sharing a bucket, buckets
    larger than ``max_bucket`` dropped entirely.

    The round-5 shape (groupBy bucket sizes -> guard join -> band
    self-join) shuffled the band rows three times per action; this one
    shuffles the fat band rows ONCE:

    * bucket sizes come from a map-side-combined count agg (skinny
      shuffle); the OVER-cap keys - at most ``n_rows / max_bucket`` of
      them by pigeonhole, so the table is always small relative to the
      input - anti-join the band rows (AQE picks broadcast when small,
      the common case). Hot rows never enter the fat shuffle, so a
      degenerate bucket (millions of members at web scale) can neither
      straggle nor OOM the collect_list partition. The round-6 pair-1
      campaign measured the alternative - a ``count(*) OVER (bucket)``
      window filter - regressing the skewed lemma-LSH stage ~50% at 4N;
    * pairs come from a nested-transform cross of the <= ``max_bucket``
      member array (<= max_bucket^2 structs per bucket, bounded by the
      cap) instead of a band self-join - the join and both of its
      exchanges disappear.

    ``member`` may be any expression (string key, or a struct carrying
    a payload such as the simhash fingerprint); ``less_than(a, b)``
    orders the pair. Output columns: ``a``, ``b`` (member type),
    deduplicated across buckets.

    ``pair_pred(a, b)``: optional extra predicate applied INSIDE the
    pair explode (e.g. the signature-agreement gate) - pairs failing it
    never reach the dedup shuffle or any verification join.

    Callers: ``lsh_pairs`` (batch linking and MinHash dedup) and the
    streaming merge (``streaming.linking.merge_mentions_batch``), whose
    members carry an is-new flag and whose ``pair_pred`` adds "at least
    one member is new" to the signature-agreement gate.
    """
    m = F.col("members")
    pred = (
        (lambda a, b: less_than(a, b) & pair_pred(a, b))
        if pair_pred is not None
        else less_than
    )
    pairs_expr = F.filter(
        F.flatten(
            F.transform(
                m, lambda x: F.transform(m, lambda y: F.struct(x.alias("a"), y.alias("b")))
            )
        ),
        lambda p: pred(p["a"], p["b"]),
    )
    hot = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > max_bucket)
        .drop("bsz")
    )
    return (
        banded.join(hot, bucket_cols, "left_anti")
        .groupBy(*bucket_cols)
        .agg(F.collect_list(member).alias("members"))
        .select(F.explode(pairs_expr).alias("p"))
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )


def cand_endpoints(table: DataFrame, cand: DataFrame, key: str) -> DataFrame:
    """``table`` cut to the rows whose ``key`` is an endpoint of a
    candidate pair (a, b): ONE semi-join (one shuffle of the fat rows)
    so the two per-side verification joins shuffle candidate-sized
    tables only (the round-5 shape shuffled the full shingle table
    twice, once per side)."""
    keys = cand.select(F.explode(F.array("a", "b")).alias(key)).dropDuplicates()
    return table.join(keys, key, "left_semi")


def join_back(cand: DataFrame, sh: DataFrame, key: str) -> DataFrame:
    """Candidate pairs (a, b) joined to their per-key ``sh`` rows on
    both sides -> (a, b, <col>_a, <col>_b for every other ``sh``
    column, jaccard) over the ``shingles`` arrays.

    ``greatest(union, 1)``: two EMPTY-shingle keys (null/blank text - a
    guaranteed population at web scale) share every band key and reach
    verification with union == 0; under ANSI mode the bare division
    crashes the task. 0/1 = 0 is below any threshold, so such pairs
    drop exactly like the DuckDB oracle drops them (NaN compare), and
    every union > 0 pair is numerically unchanged."""

    def side(s):
        return sh.select(
            F.col(key).alias(s),
            *[F.col(c).alias(f"{c}_{s}") for c in sh.columns if c != key],
        )

    pairs = cand.join(side("a"), "a").join(side("b"), "b")
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size(F.array_union("shingles_a", "shingles_b"))
    return pairs.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))


def lsh_pairs(
    sig_table: DataFrame, n_keys: int, key: str, pair_pred=None
) -> DataFrame:
    """The one MinHash-LSH core: a barriered signature table (key,
    shingles, sigs, bands) of ``n_keys`` rows -> every pair (a, b),
    a < b in the key's natural order, that shares an uncapped band
    bucket, with its exact shingle Jaccard: (a, b, jaccard), unfiltered
    - callers apply their own threshold.

    Band rows are SKINNY ``(key, band_idx, band_hash)`` (round-2
    verdict: carrying the shingle array through the 8-way explode
    multiplied the biggest shuffle's payload ~8x); they derive from the
    checkpointed ``bands`` array, so re-scanning costs only the
    posexplode, never the signature hashing. ``pair_pred(a, b)`` is
    applied inside the pair explode over members ``{k, sigs}`` - the
    16-int signature then rides the band rows (~4x the skinny row,
    still far below the shingle payload).

    Verification is size-adaptive on ``n_keys`` (round-7; the one
    strategy decision of "Scalable and Robust Set Similarity Join",
    ICDE 2018): at or below ``SMALL_SIG_TABLE_KEYS`` the joins run
    straight against the checkpoint (AQE broadcasts it at these sizes;
    the candidate subtree appears ONCE in the plan); above it the
    candidate set is barriered, then the shingle table is cut to
    candidate keys and barriered too. The barrier keeps the heaviest
    stage (capped bucket shuffle + pair explode + dedup) from running
    TWICE, once for the semi-join and again in the final join. Both
    branches give the same result set by construction: the semi-join
    only pre-drops rows the inner joins drop anyway."""
    if pair_pred is None:
        member, keep, k = F.col(key), (), lambda m: m
    else:
        member = F.struct(F.col(key).alias("k"), F.col("sigs"))
        keep, k = ("sigs",), lambda m: m["k"]
    cand = capped_bucket_pairs(
        _band_rows(sig_table, key, keep),
        ["band_idx", "band_hash"],
        member,
        lambda a, b: k(a) < k(b),
        MAX_BUCKET,
        pair_pred=pair_pred,
    ).select(k(F.col("a")).alias("a"), k(F.col("b")).alias("b"))
    sh = sig_table.select(key, "shingles")
    cap = SMALL_SIG_TABLE_KEYS
    branch = "direct" if n_keys <= cap else "reduced"
    log.info(
        "lsh_verify %s",
        json.dumps({"key": key, "branch": branch, "n_keys": n_keys, "cap": cap}),
    )
    if branch == "reduced":
        cand = barrier(cand, f"lsh_cand_{key}")
        sh = barrier(cand_endpoints(sh, cand, key), f"lsh_verify_sh_{key}")
    return join_back(cand, sh, key).select("a", "b", "jaccard")


def lsh_candidate_pairs(
    entities: DataFrame,
    key: str = "lemma",
    jaccard: float = DEFAULT_JACCARD,
    assume_distinct: bool = False,
) -> DataFrame:
    """Blocked similarity self-join -> verified pairs (a, b, jaccard).

    Recall is the banding S-curve (1-(1-s^2)^8) FURTHER gated by
    signature agreement >= MIN_SIG_AGREE (see the constant's derivation
    - an extra ~0.5% miss at the exact threshold, in exchange for
    dropping the quadratic accidental-candidate term a small shingle
    universe produces).

    ``assume_distinct``: skip the defensive ``distinct()`` when
    ``entities`` is already unique per key - a persist boundary hides a
    groupBy's uniqueness from Catalyst, and the distinct would then
    re-shuffle the whole key set."""
    sig_table, m = barrier_with_metrics(
        _shingle_plan(entities, key, assume_distinct),
        f"lsh_sigs_{key}",
        {"n": F.count(F.lit(1))},
    )
    return lsh_pairs(
        sig_table,
        m["n"],
        key,
        pair_pred=lambda a, b: sig_agreement(a["sigs"], b["sigs"])
        >= F.lit(MIN_SIG_AGREE),
    ).where(F.col("jaccard") >= F.lit(jaccard))


# graphs at or below this many RAW edge rows take the driver-local
# union-find fast path inside connected_components: the row count is
# known EXACTLY (measured by the input-materialization job) before the
# collect, so the pull is bounded by construction (~tens of MB at the
# cap, far under spark.driver.maxResultSize) - while the distributed
# star-contraction loop costs O(log n) driver-synced rounds of
# join+agg jobs, pure fixed overhead on a small graph (measured: the
# 50k-page linking graph has ~12 edges and paid ~1.8 s of round jobs;
# the sf0.01 oracle graph ~11k edges paid ~8 s). Above the cap the
# loop runs exactly as before - the 100 TB path is unchanged.
SMALL_GRAPH_MAX_EDGES = 500_000
# ...and by BYTES: string ids (lemmas, URLs) have no length cap, so the
# row cap alone does not bound the pull. The sum of id lengths (8 bytes
# per fixed-width id) rides the same measuring job.
SMALL_GRAPH_MAX_BYTES = 64 * 1024 * 1024
# star-contraction rounds connected_components runs before it raises:
# the loop converges in O(log n) rounds, so 25 covers graphs far larger
# than any corpus; running out means something is wrong, not slow.
CC_MAX_ROUNDS = 25


def _union_find_components(rows) -> dict:
    """Driver-local min-label components over (s, d) rows - the exact
    semantics of the star-contraction fixed point: nodes are every
    endpoint (self-loops and None included), edges are rows with two
    non-None endpoints and s != d, labels are the component minimum."""
    parent: dict = {}
    has_null = False

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in rows:
        if s is None or d is None:
            has_null = True
        for v in (s, d):
            if v is not None and v not in parent:
                parent[v] = v
        if s is None or d is None or s == d:
            continue
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    labels = {x: comp_min[find(x)] for x in list(parent)}
    if has_null:
        # the distinct node universe keeps a null endpoint as a node;
        # null never equi-joins, so it labels itself (comp = NULL)
        labels[None] = None
    return labels


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ckpt_scope: str = "cc",
    result_barrier: bool = False,
) -> DataFrame:
    """Alternating large-star/small-star contraction -> (id, comp).

    ``edges`` may reference string or long ids; components are labeled
    with the minimum reachable id on both paths below, so the label is
    the component's canonical form (``canonicalize`` reads it as is).
    Each round is two join+groupBy steps on the edge set (Kiveris et
    al., SOCC'14):

    * large-star: every node points its LARGER neighbors at the minimum
      of its closed neighborhood;
    * small-star: every node and its SMALLER neighbors point at that
      minimum (edges kept big->small throughout).

    Both steps strictly shrink a monotone potential, and the fixed point
    is a disjoint union of stars centered on each component's minimum -
    reached in O(log n) rounds regardless of diameter (the round-2
    min-label loop was O(diameter) and could exhaust its rounds
    silently, splitting long near-dup chains into several canonical
    nodes). If the edge set still moves after ``CC_MAX_ROUNDS`` rounds
    the call raises ``RuntimeError``; it never hands back split labels.

    Graphs of at most ``SMALL_GRAPH_MAX_EDGES`` rows and
    ``SMALL_GRAPH_MAX_BYTES`` id bytes (both measured by the input
    materialization) skip the loop: one bounded collect and a
    driver-local union-find give the same labels.

    Partitioning is sized to the GRAPH, not to the session default: the
    similarity graph is orders of magnitude smaller than the corpus, and
    an iterative loop over dozens of near-empty shuffle partitions is
    pure task-launch overhead (measured 5x slowdown at local[32] with 64
    partitions on a 30k-edge graph). ~100k edges per partition keeps
    every iteration's tasks usefully sized at any scale.

    Lineage: one ``barrier`` per round (localCheckpoint, or durable
    parquet under ``spark.semrex.checkpointDir``/``ckpt_scope``), and
    each round RELEASES the previous round's blocks once it has
    materialized - without that, a 50-round CC pins 50 edge-set copies
    in executor storage for the rest of the session
    (``materialize.release``; no-op in durable mode).

    ``result_barrier=True``: return a self-contained (id, comp) frame
    with ALL internal barriers (input + final round) released. The loop
    checkpoints its result, leaving exactly one pinned block the CALLER
    owns (release it when done); the fast path's result is driver rows
    already and pins nothing (``release`` is a no-op on it). The mode
    for long-lived sessions that call CC repeatedly (the streaming
    merge: one CC per micro-batch); the default lazy return
    is right for one-shot batch jobs, where the final join can still
    fuse into the caller's plan.
    """
    from pyspark.sql import types as T

    from .materialize import local_frame, release

    # fixed-point detector: (count, order-independent content hash) over
    # the distinct edge set. bit_xor (not sum: ANSI long-sum overflows);
    # a collision masking a real change is ~2^-64 per round.
    _STATS = lambda: {
        "n": F.count(F.lit(1)),
        "h": F.bit_xor(F.xxhash64("u", "v")),
    }

    pairs = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))

    def _id_bytes(c):
        if isinstance(pairs.schema[c].dataType, (T.StringType, T.BinaryType)):
            return F.coalesce(F.octet_length(c), F.lit(0))
        return F.lit(8)

    # ONE materialization of the (possibly expensive) upstream plan -
    # the node universe, the canonical edge set and the final label join
    # all derive from this checkpoint instead of re-evaluating upstream;
    # the same job counts non-self-loop rows (an upper bound on the
    # distinct edge count) for partition sizing
    raw, m = barrier_with_metrics(
        pairs,
        f"{ckpt_scope}_input",
        {
            "n_raw": F.sum((F.col("s") != F.col("d")).cast("long")),
            "n_total": F.count(F.lit(1)),
            "n_bytes": F.sum((_id_bytes("s") + _id_bytes("d")).cast("long")),
        },
    )
    n_raw = m["n_raw"] or 0
    # the fast-path gate must bound the COLLECT, so it uses the total
    # row count and id bytes (self-loop and null-endpoint rows are
    # pulled too); the non-self-loop count only sizes the loop's
    # partitioning
    n_total = m["n_total"] or 0
    n_bytes = m["n_bytes"] or 0
    if n_total <= SMALL_GRAPH_MAX_EDGES and n_bytes <= SMALL_GRAPH_MAX_BYTES:
        # driver-local union-find: the exact same (id, min-reachable)
        # labels, one collect of a table whose size was just measured,
        # zero iterative rounds. n_raw counts non-self-loop rows, so
        # pure-self-loop inputs also land here (they would converge
        # immediately anyway).
        labels = _union_find_components(
            [(r[0], r[1]) for r in raw.collect()]
        )
        id_type = raw.schema["s"].dataType
        schema = T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("comp", id_type, True),
            ]
        )
        result = local_frame(edges.sparkSession, list(labels.items()), schema)
        release(raw)
        log.info(
            "connected_components: small-graph fast path (%d raw edges)",
            n_raw,
        )
        return result
    n_part = max(2, min(int(n_raw / 100_000) + 1, 2048))
    # node universe: self-loops / isolated endpoints must still receive
    # a label even though star contraction drops u==v edges (computed
    # lazily from the checkpointed input - used once, after the loop)
    nodes = (
        raw.select(F.col("s").alias("id"))
        .union(raw.select(F.col("d").alias("id")))
        .distinct()
    )
    e = (
        raw.where(F.col("s") != F.col("d"))
        .select(F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v"))
        .distinct()
    )
    e, m = barrier_with_metrics(
        e.repartition(n_part, "u"), f"{ckpt_scope}_edges_p", _STATS()
    )
    prev_stats = (m["n"], m["h"])
    n_edges = m["n"]
    converged = n_edges == 0
    rounds = 0
    for it in range(CC_MAX_ROUNDS):
        if converged:
            break
        # --- large-star ---
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star --- (edges oriented big->small by construction)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .repartition(n_part, "u")
        )
        prev_e = e
        e, m = barrier_with_metrics(small, f"{ckpt_scope}_round_{it}", _STATS())
        # the new round's checkpoint was prev_e's last consumer
        release(prev_e)
        stats = (m["n"], m["h"])
        rounds = it + 1
        if stats == prev_stats:
            converged = True
        prev_stats = stats
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} "
            f"rounds ({n_edges} input edges); component labels may be split"
        )
    log.info("connected_components: %d rounds to fixed point", rounds)
    # fixed point = disjoint stars (u -> component-min); roots and
    # isolated/self-loop-only nodes label themselves
    stars = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    result = (
        nodes.join(stars, "id", "left")
        .groupBy("id")
        .agg(F.min(F.coalesce("comp", "id")).alias("comp"))
    )
    if result_barrier:
        result = result.localCheckpoint(eager=True)
        release(e)
        release(raw)
    return result


def canonicalize(mentions: DataFrame, jaccard: float = DEFAULT_JACCARD):
    """mentions -> (node_assignments, nodes).

    node_assignments: (lemma, node_id, canonical)
    nodes:            (node_id, canonical, surfaces, n_mentions)

    Exact-lemma dedupe is the groupBy; near-duplicate lemmas are merged by
    LSH edges + connected components. The canonical form is the
    lexicographically smallest lemma in the component (deterministic):
    exactly CC's min label, so it is read off the label; a lemma with no
    LSH edge is its own component. Mentions with a null lemma get no
    assignment and no node.
    """
    from pyspark import StorageLevel

    lemmas = (
        mentions.where(F.col("lemma").isNotNull())
        .groupBy("lemma")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.collect_set("surface").alias("surfaces"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds LSH + assignment join
    )
    # assume_distinct: lemmas is the output of a groupBy("lemma") - the
    # persist boundary hides its uniqueness from Catalyst, and the
    # defensive distinct() would re-shuffle the whole lemma set
    sim = lsh_candidate_pairs(lemmas, "lemma", jaccard, assume_distinct=True)
    comp = connected_components(sim, "a", "b", ckpt_scope="linking_cc")
    assignments = (
        lemmas.join(comp.withColumnRenamed("id", "lemma"), "lemma", "left")
        .withColumn("canonical", F.coalesce("comp", "lemma"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # feeds nodes + node_assignments (edge join)
    nodes = canonical_nodes(assignments)
    node_assignments = assignments.select(
        "lemma", F.xxhash64("canonical").alias("node_id"), "canonical"
    )
    return node_assignments, nodes


def canonical_nodes(lemma_assignments: DataFrame) -> DataFrame:
    """(canonical, n_mentions, surfaces) rows, one or more per lemma ->
    nodes (node_id, canonical, surfaces, n_mentions): the one node
    assembly batch ``canonicalize`` and the stream's ``streamed_graph``
    share, so stream nodes equal batch nodes by construction."""
    return (
        lemma_assignments.groupBy("canonical")
        .agg(
            F.sum("n_mentions").alias("n_mentions"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("surfaces")))
            ).alias("surfaces"),
        )
        .withColumn("node_id", F.xxhash64("canonical"))
        .select("node_id", "canonical", "surfaces", "n_mentions")
    )


def edges_from_triples(
    triples: DataFrame,
    node_assignments: DataFrame,
    unlinked: Observation | None = None,
) -> DataFrame:
    """triples (subj/obj lemmas) -> aggregated edges over canonical nodes.
    Two left joins against the assignment dim + one groupBy.

    The assignment dim is broadcast: it is entity-scale, orders of
    magnitude smaller than the triples fact side.

    A triple whose subject or object lemma has no assignment has no
    edge. It is dropped, but not silently: an Observation counts those
    triples as ``rows`` with the action that computes the edges, so no
    job is added, and ``watch_unlinked`` logs a warning once that count
    arrives non-zero. With ``unlinked=None`` the Observation is made
    and watched here; a caller passing its own ``unlinked`` watches it
    itself, once it knows the edges will be computed (a watcher on a
    plan that never runs waits for the session's life).
    """
    na = F.broadcast(node_assignments.select("lemma", "node_id"))
    linked = triples.join(
        na.withColumnRenamed("lemma", "subj").withColumnRenamed("node_id", "src"),
        "subj",
        "left",
    ).join(
        na.withColumnRenamed("lemma", "obj").withColumnRenamed("node_id", "dst"),
        "obj",
        "left",
    )
    no_node = F.col("src").isNull() | F.col("dst").isNull()
    watch = unlinked is None
    unlinked = unlinked or Observation()
    linked = linked.observe(unlinked, F.count(F.when(no_node, 1)).alias("rows"))
    if watch:
        watch_unlinked(unlinked)
    return (
        linked.where(~no_node)
        .groupBy("src", "dst", "pred")
        .agg(F.count(F.lit(1)).alias("n_evidence"))
    )


def watch_unlinked(unlinked: Observation) -> None:
    """Start a daemon thread that waits for ``edges_from_triples``'
    unlinked count and warns if it is non-zero."""
    threading.Thread(
        target=_warn_unlinked, args=(unlinked,), name="edges_unlinked", daemon=True
    ).start()


def _warn_unlinked(unlinked: Observation) -> None:
    try:
        n = unlinked.get["rows"]
    except Exception:  # the session went away before the edges ran
        return
    if n:
        log.warning(
            "edges_from_triples: %d triples have a subject or object lemma "
            "with no node assignment; their edges are dropped",
            n,
        )
