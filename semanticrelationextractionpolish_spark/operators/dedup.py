"""Deduplication operators for web-scale training corpora.

Four families, each a ``documents``-table DataFrame op:

* exact (md5-of-normalized-text groupBy) - 1 shuffle, SQL-oracle exact;
* n-gram Jaccard near-dup (shingle inverted-index join) - the classic
  candidate-pair + verify plan with frequency-capped shingles as the
  skew guard;
* MinHash-LSH near-dup (md5 signatures over *word* shingles, blocked
  and verified by linking's one LSH core, ``lsh_pairs``) - the
  sub-quadratic scale path;
* SimHash (60-bit hamming fingerprint over md5 token hashes, banded
  for blocking).

At 100 TB: exact dedup is a straight hash-aggregate; LSH/SimHash block
to near-linear candidate counts; the raw n-gram join exists mainly as
the verification oracle for the LSH path on small slices.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .linking import N_BANDS, N_HASHES
from .materialize import barrier


def _norm(text_col):
    return F.regexp_replace(F.trim(F.lower(text_col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct normalized content: the keeper (min doc_id)
    plus the duplicate count."""
    keyed = df.select(
        "doc_id", F.md5(_norm(F.col(text_col))).alias("content_md5")
    )
    return (
        keyed.groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_ngram_df: int = 1000,
) -> DataFrame:
    """All doc pairs with word-``n``-gram Jaccard >= threshold.

    Plan: explode distinct n-grams -> drop n-grams appearing in more than
    ``max_ngram_df`` docs (stopword-shingle skew guard - they cannot be
    discriminative and would quadratically blow up the join) -> self-join
    the inverted index -> count shared shingles -> verify Jaccard with
    per-doc shingle counts.
    """
    # hashed shingling: hash each token ONCE (xxhash64), then combine n
    # consecutive token hashes into the gram key - no per-gram string
    # concatenation, and long keys move ~5x fewer shuffle bytes than word
    # trigrams (collision risk 1e-9 at 1e5 distinct grams is far below
    # the jaccard threshold's sensitivity). The split/tokenize/gram steps
    # are STAGED through separate selects: nesting them in one expression
    # tree makes the HOF lambdas re-evaluate the upstream regex split per
    # array element (measured 16s vs 0.4s on 5k docs at sf0.1).
    tokenized = df.select(
        "doc_id", F.split(_norm(F.col(text_col)), " ").alias("toks")
    )
    hashed = tokenized.select(
        "doc_id", F.transform("toks", lambda w: F.xxhash64(w)).alias("tok_h")
    )
    cnt = F.size("tok_h") - (n - 1)
    gram_keys = F.when(cnt < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("tok_h"), i + k) for k in range(n)]
            ),
        )
    )
    # materialize the per-doc gram arrays BEFORE exploding: Spark's
    # Generate collapses the gram-building expression into itself and
    # re-evaluates it per exploded element (measured 12s vs 0.1s on 260k
    # grams at sf0.1). One skinny array row per doc; the barrier is the
    # shingle stage checkpoint (durable when spark.semrex.checkpointDir
    # is set - the kill-resume path reuses it).
    sized = barrier(
        hashed.select("doc_id", F.array_distinct(gram_keys).alias("grams"))
        .withColumn("n_grams", F.size("grams")),
        "ngram_grams",
    )
    inv = sized.select("doc_id", "n_grams", F.explode("grams").alias("gram"))
    # frequency cap via a window over the gram partitioning: ONE pass over
    # the inverted index (the round-1 groupBy+join recomputed the whole
    # index twice); the capped index is materialized so the self-join's
    # two sides read it instead of re-exploding
    # (same localCheckpoint discipline as minhash_near_dup_pairs)
    gdf = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    inv = barrier(
        inv.withColumn("gdf", gdf).where(F.col("gdf") <= max_ngram_df).drop("gdf"),
        "ngram_inv_capped",
    )
    a = inv.select(
        F.col("gram"),
        F.col("doc_id").alias("doc_a"),
        F.col("n_grams").alias("na"),
    )
    b = inv.select(
        F.col("gram"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_grams").alias("nb"),
    )
    # doc-length banding: Jaccard >= t implies min(na,nb)/max(na,nb) >= t
    # (intersection <= min, union >= max), so length-mismatched pairs are
    # pruned AT THE JOIN, before they fan into the groupBy. Same result
    # set by construction; at sf0.1 this cut the query >2x. The ratio form
    # (not t*max <= min) avoids fp-literal edge cases: both engines
    # compute the same correctly-rounded double for min/max.
    band = F.least("na", "nb").cast("double") / F.greatest("na", "nb")
    shared = (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(band >= F.lit(threshold))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


MERSENNE_P = (1 << 31) - 1  # modulus of the cross-engine sig-hash family


def _md5_int(tag: str, i: int) -> int:
    return int(hashlib.md5(f"{tag}:{i}".encode("utf-8")).hexdigest(), 16)


# the N_HASHES universal hashes (h * a_i + b_i) % p. a_i and b_i are drawn
# independently (md5 of a tag and i): coefficients that are arithmetic
# in i make each shingle's hash values an arithmetic progression mod p,
# so one shingle with a low hash and a small step wins most positions
# and near-duplicates share fewer signatures than their Jaccard implies
MINHASH_A = tuple(
    1 + _md5_int("minhash-a", i) % (MERSENNE_P - 1) for i in range(N_HASHES)
)
MINHASH_B = tuple(_md5_int("minhash-b", i) % MERSENNE_P for i in range(N_HASHES))


def _minhash_md5_kernel(n: int):
    """mapInPandas kernel computing the ENTIRE md5 minhash signature
    block per doc from its token array - value-identical to the JVM
    Column formulation it replaces (and to the DuckDB oracle):

    * shingles: first-occurrence-distinct word ``n``-grams
      (dict.fromkeys == array_distinct order);
    * sh_h: int(md5(s)[:15hex], 16) % p - hashlib md5 of UTF-8 bytes ==
      Spark/DuckDB md5; 15 hex chars < 2^60 fit an int64;
    * sigs: min over shingles of (h*a_i + b_i) % p for the 16 universal
      hashes (``MINHASH_A``/``MINHASH_B``) - operands < 2^31, products
      < 2^62: int64 never wraps and numpy % on non-negatives == Java %;
      one numpy broadcast per doc (per-ROW, keeping the (n_shingles x
      16) temporary cache-resident - the round-6 simhash finding:
      batch-flat goes memory-bound);
      empty docs yield [NULL]*16 exactly like array_min(empty);
    * bands: md5 of ``"{b}|{sig,sig}"`` - for empty docs the JVM
      array_join SKIPS null sigs (no null replacement), producing
      ``"{b}|"``, mirrored here.
    """
    p = MERSENNE_P
    rpb = N_HASHES // N_BANDS
    A = np.array(MINHASH_A, dtype=np.int64)
    B = np.array(MINHASH_B, dtype=np.int64)

    def _h15(s: str) -> int:
        return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

    def kernel(batches):
        for pdf in batches:
            out_sh, out_sigs, out_bands = [], [], []
            for toks in pdf["toks"]:
                # NULL text -> null token array -> Arrow None: mirror
                # the JVM path (null shingles never verify as pairs;
                # sigs [NULL]*16, bands md5("b|")) instead of raising
                toks = [] if toks is None else list(toks)
                if len(toks) - (n - 1) < 1:
                    shingles = []
                else:
                    shingles = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + n])
                            for i in range(len(toks) - (n - 1))
                        )
                    )
                out_sh.append(shingles)
                if not shingles:
                    sigs = [None] * N_HASHES
                    sig_strs = [""] * N_BANDS
                else:
                    h = np.fromiter(
                        (_h15(s) % p for s in shingles),
                        dtype=np.int64,
                        count=len(shingles),
                    )
                    m = (h[:, None] * A[None, :] + B[None, :]) % p
                    mins = m.min(axis=0)
                    sigs = mins.tolist()
                    sig_strs = [
                        ",".join(str(v) for v in sigs[b * rpb : b * rpb + rpb])
                        for b in range(N_BANDS)
                    ]
                out_sigs.append(sigs)
                out_bands.append(
                    [_h15(f"{b}|{sig_strs[b]}") for b in range(N_BANDS)]
                )
            yield pd.DataFrame(
                {
                    "lemma": pdf["lemma"],
                    "shingles": out_sh,
                    "sigs": out_sigs,
                    "bands": out_bands,
                }
            )

    return kernel


def _md5_long(col):
    """Cross-engine 60-bit hash: first 15 hex chars of md5 as a BIGINT.
    Spark md5 == DuckDB md5, so signatures/band keys derived this way are
    recomputable by the SQL oracle (Spark's hash/xxhash64 are not)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    jaccard: float = 0.7,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-banded near-duplicate candidates, Jaccard-verified: the
    scale path (candidates ~ linear in corpus size).

    Signatures are the md5 family: the DuckDB oracle recomputes the
    identical signatures/bands, so the driver check is exact (see
    ``minhash_md5_oracle_sql``). ``hash_fn`` accepts only ``"md5"``; the
    xxhash64 family was removed and raises ``ValueError``."""
    if hash_fn != "md5":
        raise ValueError(
            f"minhash_near_dup_pairs: hash_fn={hash_fn!r} is not supported - "
            "the xxhash64 MinHash family was removed; md5 is the only one"
        )
    from .linking import lsh_pairs
    from .materialize import barrier_with_metrics

    # staged select: the kernel reads a materialized token column
    toks_df = df.select(
        F.col("doc_id").cast("string").alias("lemma"),
        F.split(_norm(F.col(text_col)), " ").alias("toks"),
    )
    # the WHOLE md5 signature block (shingling, md5 hashing, the 16-hash
    # universal family + mins, band keys) runs as ONE mapInPandas
    # kernel: hashlib.md5 == Spark md5 == DuckDB md5 and integer ops are
    # exact (see _minhash_md5_kernel), with only (lemma, toks) crossing
    # the boundary (guide §4.2). Signatures AND the per-doc band-key
    # array are materialized in ONE barrier before linking.lsh_pairs'
    # band posexplode: Generate would otherwise re-run the kernel per
    # exploded band, and this is also the shingle table the
    # verification joins back to.
    sig_block = toks_df.mapInPandas(
        _minhash_md5_kernel(n),
        schema=(
            "lemma string, shingles array<string>, "
            "sigs array<long>, bands array<long>"
        ),
    )
    # checkpoint name VERSIONED (v3): v2 added the per-doc bands array,
    # v3 the independent MINHASH_A/MINHASH_B coefficients. A durable
    # resume of an older checkpoint would fail the posexplode (pre-v2)
    # or mix two hash families (v2); under the new name such a dir
    # simply has no _SUCCESS, so the stage recomputes fresh, and
    # within-version kill-resume keeps its stable name.
    with_sigs, m = barrier_with_metrics(
        sig_block, "minhash_sigs_v3", {"n": F.count(F.lit(1))}
    )
    # doc ids back to long OVER the checkpoint (its schema stays
    # valid): pairs then order and join on the numeric id directly
    docs = with_sigs.select(
        F.col("lemma").cast("long").alias("doc_id"), "shingles", "sigs", "bands"
    )
    return (
        lsh_pairs(docs, m["n"], "doc_id")
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= jaccard)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard")
    )


def minhash_md5_oracle_sql(
    docs2_cte: str, jaccard: float = 0.7, n: int = 3
) -> str:
    """DuckDB mirror of ``minhash_near_dup_pairs``:
    recomputes the identical shingles, signatures, band keys, bucket cap
    and Jaccard verification. ``docs2_cte`` must define a CTE named
    ``docs2(doc_id, text)`` (e.g. the planted-duplicates union)."""
    from .linking import MAX_BUCKET

    rpb = N_HASHES // N_BANDS
    h = lambda expr: f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"
    coeffs = lambda xs: f"{list(xs)}::BIGINT[]"
    return f"""
        {docs2_cte}
        , toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
          FROM docs2
        ), grams AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) - {n - 1} < 1 THEN []::VARCHAR[]
                   ELSE [array_to_string(toks[i:i+{n - 1}], ' ')
                         FOR i IN range(1, greatest(len(toks) - {n - 1}, 1) + 1)]
                 END) AS shingles
          FROM toks
        ), hashed AS (
          SELECT doc_id, shingles,
                 list_transform(shingles, s -> {h('s')} % {MERSENNE_P}) AS sh_h
          FROM grams
        ), sigs AS (
          SELECT doc_id, shingles,
                 list_transform(range(0, {N_HASHES}),
                   i -> list_min(list_transform(sh_h,
                          h -> (h * ({coeffs(MINHASH_A)})[i + 1] + ({coeffs(MINHASH_B)})[i + 1]) % {MERSENNE_P}))) AS sigs
          FROM hashed
        ), banded AS (
          SELECT doc_id, b AS band_idx,
                 {h(f"b::VARCHAR || '|' || array_to_string(sigs[{rpb}*b+1:{rpb}*b+{rpb}], ',')")} AS band_hash
          FROM sigs, range(0, {N_BANDS}) t(b)
        ), capped AS (
          SELECT * FROM banded
          QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= {MAX_BUCKET}
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM capped a JOIN capped b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(ga.shingles, gb.shingles))
                     / CAST(len(list_distinct(ga.shingles || gb.shingles)) AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN grams ga ON ga.doc_id = doc_a
        JOIN grams gb ON gb.doc_id = doc_b
        WHERE round(len(list_intersect(ga.shingles, gb.shingles))
                    / CAST(len(list_distinct(ga.shingles || gb.shingles)) AS DOUBLE), 6) >= {jaccard}
    """


def simhash_md5_oracle_sql(
    docs2_cte: str, max_hamming: int = 6, max_bucket: int | None = None
) -> str:
    """DuckDB mirror of ``simhash_near_dup_pairs``:
    recomputes the 60-bit fingerprints (per-bit majority vote over
    md5-derived token hashes), the 4x15-bit bands, the bucket-size cap
    (QUALIFY over (band_idx, band_val), same as the Spark skew guard),
    and the exact bit_count(xor) hamming verification."""
    from .linking import MAX_BUCKET

    if max_bucket is None:
        max_bucket = MAX_BUCKET
    h = "('0x' || substr(md5(t), 1, 15))::BIGINT"
    vote_bit = (
        f"CASE WHEN coalesce(list_sum(list_transform(hashes, "
        f"h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN (1::BIGINT << b) ELSE 0 END"
    )
    return f"""
        {docs2_cte}
        , toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
          FROM docs2
        ), hashed AS (
          SELECT doc_id, list_transform(toks, t -> {h}) AS hashes FROM toks
        ), fp AS (
          SELECT doc_id,
                 coalesce(list_sum(list_transform(range(0, 60), b -> {vote_bit})), 0)::BIGINT AS simhash
          FROM hashed
        ), banded AS (
          SELECT doc_id, simhash, b AS band_idx,
                 (simhash >> (15 * b)) & 32767 AS band_val
          FROM fp, range(0, 4) t(b)
          QUALIFY count(*) OVER (PARTITION BY band_idx, band_val) <= {max_bucket}
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sim_a, b.simhash AS sim_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash over word tokens: sign of the per-bit sum of the
    tokens' md5-derived 60-bit hashes (``_md5_long``), so the DuckDB
    oracle recomputes identical fingerprints. Hybrid plan: token hashing
    stays JVM-side (inside a codegen'd transform); the per-bit vote/pack
    runs as ONE vectorized numpy kernel per Arrow batch (the pure-Column
    version needed one interpreted array scan per bit per row - measured
    ~4x slower at sf0.1). The split is staged through its own select so
    the hashing transform doesn't re-run the regex split per token."""
    bits = 60
    staged = df.select(
        "doc_id", F.split(_norm(F.col(text_col)), " ").alias("toks")
    )
    hashes = F.transform("toks", _md5_long)

    @pandas_udf(T.LongType())
    def pack_simhash(hs: pd.Series) -> pd.Series:
        # Deliberately per-ROW: each doc's (n_tokens x bits) bit matrix
        # stays cache-resident. Batch-wide vectorizations were measured
        # SLOWER (round 6): one flat (total_tokens x bits) matrix builds
        # 100-250 MB temporaries per 20k-row Arrow batch and goes
        # memory-bandwidth-bound (0.2x), and np.add.reduceat's
        # segment-sum is a non-SIMD per-segment loop (0.6x even via
        # packed unpackbits bytes). The per-row loop is ~50 us/doc and
        # scales linearly with cores - at 4M docs the kernel's CPU
        # parallelizes at ~1.0 efficiency (campaign decomposition in
        # BENCH/BASELINE.md round-6).
        out = np.zeros(len(hs), dtype=np.int64)
        shifts = np.arange(bits, dtype=np.uint64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            # (n_tokens, bits) bit matrix -> per-bit votes in {-1,+1}
            bitmat = ((h[:, None] >> shifts[None, :]) & 1).astype(np.int32)
            votes = (2 * bitmat - 1).sum(axis=0)
            packed = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                packed |= np.uint64(1) << np.uint64(b)
            out[i] = packed.astype(np.int64)
        return pd.Series(out)

    return staged.select("doc_id", pack_simhash(hashes).alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 6
) -> DataFrame:
    """Banded SimHash blocking over the 60-bit ``simhash`` fingerprints:
    4 bands of 15 bits; a pair within hamming distance < 4 must agree on
    at least one band (pigeonhole); verified exactly with
    bit_count(xor). The DuckDB oracle (``simhash_md5_oracle_sql``)
    recomputes the same pairs.

    Skew guard (round-4 verdict #2 — the last uncapped quadratic join):
    band values with more than ``linking.MAX_BUCKET`` members (read at
    call time) are dropped before the self-join, exactly like
    the MinHash path above. At web scale a degenerate band value is
    GUARANTEED — empty/boilerplate docs share fingerprint bits (an
    all-zero simhash for empty docs is a standing hot key), and one
    such bucket makes the candidate join quadratic. Documented recall
    trade (same as MinHash): members of an over-full bucket can still
    pair through their other 3 bands; a pair agreeing ONLY on a capped
    band is missed. The DuckDB oracle mirrors the cap bit-for-bit."""
    from .linking import MAX_BUCKET, capped_bucket_pairs

    band_bits = 15  # 4 bands over the 60-bit fingerprint
    band_mask = (1 << band_bits) - 1
    sh = simhash(df, text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("simhash"), band_bits * i)
                .bitwiseAND(F.lit(band_mask))
                .alias("band_val"),
            )
            for i in range(4)
        ]
    )
    # materialize the skinny band rows ONCE (same rationale as the
    # minhash signature barrier): the bucket-size guard and BOTH
    # sides of the self-join scan this plan, and without the barrier
    # each scan re-runs the vote/pack kernel + explode (3x the simhash
    # compute; measured as most of the +8.8% the cap initially cost in
    # the round-5 closing A/B)
    banded = barrier(
        sh.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
            "doc_id", "simhash", "b.band_idx", "b.band_val"
        ),
        "simhash_bands",
    )
    # skew-capped in-bucket pairs in ONE shuffle of the band rows: the
    # member struct carries the fingerprint so verification needs no
    # join-back at all (round-6 verdict #1; see linking.capped_bucket_pairs)
    cand = capped_bucket_pairs(
        banded,
        ["band_idx", "band_val"],
        F.struct(F.col("doc_id"), F.col("simhash")),
        lambda a, b: a["doc_id"] < b["doc_id"],
        MAX_BUCKET,
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sim_a"),
        F.col("b.simhash").alias("sim_b"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
