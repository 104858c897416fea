"""Entity-linking stage tests: LSH candidate generation, connected
components, canonicalization."""

from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark.operators.linking import (
    canonicalize,
    connected_components,
    lsh_candidate_pairs,
)


def test_lsh_finds_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            ("wrocław",),
            ("wrocławi",),
            ("cd projekc",),
            ("cd projekt",),
            ("zupełnie inny tekst",),
        ],
        "lemma string",
    )
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(df, "lemma").collect()}
    assert ("wrocław", "wrocławi") in pairs
    assert ("cd projekc", "cd projekt") in pairs
    assert all("zupełnie inny tekst" not in p for p in pairs)


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src long, dst long"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[7] == 7


def test_connected_components_string_ids(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "src string, dst string"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"


def test_connected_components_byte_bound_forces_distributed_loop(
    spark, caplog, monkeypatch
):
    """Long string ids exceed the fast path's byte bound although the
    row count is tiny: the distributed loop runs, with the labels the
    driver-local fast path gives."""
    import logging

    from semanticrelationextractionpolish_spark.operators import linking

    ids = [c * 400 for c in "abcdefgh"]
    edges = spark.createDataFrame(
        [(ids[1], ids[0]), (ids[2], ids[1]), (ids[4], ids[3]), (ids[7], ids[7])],
        "src string, dst string",
    )
    fast = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    # 4 rows of two 400-byte ids: 3,200 id bytes, over the bound, while
    # 4 rows are far under the row bound
    monkeypatch.setattr(linking, "SMALL_GRAPH_MAX_BYTES", 4 * 400)
    with caplog.at_level(logging.INFO, logger=linking.__name__):
        labels = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert "rounds to fixed point" in caplog.text
    assert "small-graph fast path" not in caplog.text
    assert labels == fast
    assert fast[ids[2]] == ids[0] and fast[ids[4]] == ids[3]
    assert fast[ids[7]] == ids[7]


def test_canonicalize_merges_variants(spark):
    mentions = spark.createDataFrame(
        [
            ("u1", 0, "e1", "city_nam", 0, 1, "Warszawa", "warszaw"),
            ("u2", 0, "e1", "city_nam", 0, 1, "Warszawie", "warszawi"),
            ("u3", 0, "e1", "city_nam", 0, 1, "Warszawy", "warszaw"),
            ("u4", 0, "e1", "org_nam", 0, 1, "Orlen", "orlen"),
        ],
        "url string, sent_idx int, entity_id string, entity_class string, "
        "beg int, end int, surface string, lemma string",
    )
    assignments, nodes = canonicalize(mentions)
    n = nodes.collect()
    canon = {r["canonical"]: r for r in n}
    assert "warszaw" in canon
    assert set(canon["warszaw"]["surfaces"]) == {"Warszawa", "Warszawie", "Warszawy"}
    assert canon["warszaw"]["n_mentions"] == 3
    assert "orlen" in canon and len(n) == 2
    # assignments map every lemma to its canonical node
    a = {r["lemma"]: r["canonical"] for r in assignments.collect()}
    assert a == {"warszaw": "warszaw", "warszawi": "warszaw", "orlen": "orlen"}


def test_node_ids_stable(spark):
    mentions = spark.createDataFrame(
        [("u1", 0, "e1", "city_nam", 0, 1, "Gdańsk", "gdańsk")],
        "url string, sent_idx int, entity_id string, entity_class string, "
        "beg int, end int, surface string, lemma string",
    )
    _, n1 = canonicalize(mentions)
    _, n2 = canonicalize(mentions)
    assert n1.first()["node_id"] == n2.first()["node_id"]


_MENTION_SCHEMA = (
    "url string, sent_idx int, entity_id string, entity_class string, "
    "beg int, end int, surface string, lemma string"
)


def _mentions(spark, lemmas_surfaces):
    return spark.createDataFrame(
        [
            (f"u{i}", 0, "e1", "city_nam", 0, 1, surface, lemma)
            for i, (lemma, surface) in enumerate(lemmas_surfaces)
        ],
        _MENTION_SCHEMA,
    )


def _canonical_rows(mentions):
    assignments, nodes = canonicalize(mentions)
    # repr keys: a null canonical must sort, not raise
    a = sorted((tuple(r) for r in assignments.collect()), key=repr)
    n = sorted(
        (
            (r["node_id"], r["canonical"], tuple(r["surfaces"]), r["n_mentions"])
            for r in nodes.collect()
        ),
        key=repr,
    )
    return a, n


def test_canonicalize_same_on_fast_path_and_loop(spark, tmp_path, monkeypatch):
    """The canonical form is read off CC's min label: the driver-local
    fast path and the forced star-contraction loop give identical
    assignments and nodes, in both barrier modes, for a multi-member
    component plus an isolated lemma."""
    from semanticrelationextractionpolish_spark.operators import linking

    mentions = _mentions(
        spark,
        [
            ("wrocławiu", "Wrocławiu"),
            ("wrocławia", "Wrocławia"),
            ("wrocław", "Wrocław"),
            ("wrocławi", "Wrocławi"),
            ("wrocław", "Wrocławski"),
            ("orlen", "Orlen"),
        ],
    )
    runs = {}
    for path, cap in (("fast", linking.SMALL_GRAPH_MAX_EDGES), ("loop", 0)):
        monkeypatch.setattr(linking, "SMALL_GRAPH_MAX_EDGES", cap)
        for mode in ("local", "durable"):
            if mode == "durable":
                spark.conf.set(
                    "spark.semrex.checkpointDir", str(tmp_path / path)
                )
            try:
                runs[(path, mode)] = _canonical_rows(mentions)
            finally:
                spark.conf.unset("spark.semrex.checkpointDir")
    first = runs[("fast", "local")]
    assert all(r == first for r in runs.values()), runs
    assignments, nodes = first
    canon = {lemma: c for lemma, _, c in assignments}
    assert canon == {
        "wrocław": "wrocław",
        "wrocławi": "wrocław",
        "wrocławia": "wrocław",
        "wrocławiu": "wrocław",
        "orlen": "orlen",
    }
    assert len(nodes) == 2
    assert {c: m for _, c, _, m in nodes} == {"wrocław": 5, "orlen": 1}


def test_canonicalize_drops_null_lemma(spark):
    """A mention with a null lemma yields no assignment row and no node
    (and its surface joins no node)."""
    assignments, nodes = _canonical_rows(
        _mentions(
            spark,
            [("gdańsk", "Gdańsk"), ("gdańska", "Gdańska"), (None, "Nikt")],
        )
    )
    assert [(lemma, c) for lemma, _, c in assignments] == [
        ("gdańsk", "gdańsk"),
        ("gdańska", "gdańsk"),
    ]
    assert [(c, s, m) for _, c, s, m in nodes] == [
        ("gdańsk", ("Gdańsk", "Gdańska"), 2)
    ]


def test_edges_from_triples_counts_and_warns_unlinked(spark, caplog):
    """A triple whose object lemma has no assignment gets no edge, and
    is counted by the Observation with the edges' own action and named
    in a warning, instead of vanishing in an inner join. A caller that
    passes its own Observation starts the watcher itself."""
    import logging
    import time

    from pyspark.sql import Observation

    from semanticrelationextractionpolish_spark.operators import linking

    triples = spark.createDataFrame(
        [
            ("u", 0, "adam", "lives_in", "gdańsk"),
            ("u", 1, "adam", "lives_in", "krak"),
            ("u", 2, "ewa", "lives_in", "nowhere"),
        ],
        "url string, sent_idx int, subj string, pred string, obj string",
    )
    assignments = spark.createDataFrame(
        [("adam", 1), ("ewa", 2), ("gdańsk", 3), ("krak", 4)],
        "lemma string, node_id long",
    )
    unlinked = Observation()
    with caplog.at_level(logging.WARNING, logger=linking.__name__):
        edges = linking.edges_from_triples(triples, assignments, unlinked)
        linking.watch_unlinked(unlinked)
        got = {(r["src"], r["dst"], r["n_evidence"]) for r in edges.collect()}
        assert unlinked.get["rows"] == 1
        # the warning comes from a thread that waits for the count
        deadline = time.time() + 30
        while not caplog.records and time.time() < deadline:
            time.sleep(0.1)
    assert got == {(1, 3, 1), (1, 4, 1)}
    assert [r.getMessage() for r in caplog.records] == [
        "edges_from_triples: 1 triples have a subject or object lemma "
        "with no node assignment; their edges are dropped"
    ]


def test_connected_components_long_chain(spark):
    """Diameter >> CC_MAX_ROUNDS: plain min-label propagation (round-2
    impl) moves a label one hop per round, so a 120-node chain silently
    split after 25 rounds; large-star/small-star contracts in O(log n)
    rounds."""
    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert len(comp) == n
    assert set(comp.values()) == {0}


def test_connected_components_nonconvergence_is_loud(spark, monkeypatch):
    """Running out of rounds with the edge set still moving must raise,
    never return split labels."""
    import pytest

    from semanticrelationextractionpolish_spark.operators import linking

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    # SMALL_GRAPH_MAX_EDGES=0 forces the distributed loop (the
    # driver-local fast path would solve this 39-edge chain exactly)
    monkeypatch.setattr(linking, "SMALL_GRAPH_MAX_EDGES", 0)
    monkeypatch.setattr(linking, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges)


def test_connected_components_matches_union_find(spark):
    """Random-graph equivalence against a plain-Python union-find."""
    import random

    rnd = random.Random(7)
    n = 300
    raw = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(260)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    seen = {x for e in raw for x in e}
    roots = {}
    expected = {}
    for x in sorted(seen):  # min id per component
        r = find(x)
        roots.setdefault(r, x)
        expected[x] = roots[r]

    edges = spark.createDataFrame(raw, "src long, dst long")
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == expected


def test_connected_components_fast_path_matches_loop(spark, monkeypatch):
    """The round-7 driver-local small-graph fast path must label
    EXACTLY like the distributed star-contraction loop - same graph,
    both paths, including self-loops and string ids."""
    import random

    from semanticrelationextractionpolish_spark.operators import linking

    rnd = random.Random(11)
    raw = [
        (f"e{rnd.randrange(120)}", f"e{rnd.randrange(120)}")
        for _ in range(150)
    ] + [("loop", "loop"), ("iso1", "iso1")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    fast = {
        r["id"]: r["comp"]
        for r in connected_components(edges, ckpt_scope="ccf").collect()
    }
    monkeypatch.setattr(linking, "SMALL_GRAPH_MAX_EDGES", 0)
    slow = {
        r["id"]: r["comp"]
        for r in connected_components(edges, ckpt_scope="ccs").collect()
    }
    assert fast == slow and len(fast) > 0


def test_capped_bucket_pairs_one_shuffle_equivalence(spark):
    """Round-6 verdict #1: the in-bucket pair generator must (a) equal
    the old guard-join + band-self-join pair set exactly, (b) drop
    over-cap buckets entirely, and (c) keep the prefilter's shape: the
    only join touching the band rows is the hot-key left-anti join -
    the band self-join is gone."""
    import re

    from semanticrelationextractionpolish_spark.operators.linking import (
        capped_bucket_pairs,
    )

    rows = [(f"k{i:03d}", i % 37, i % 5) for i in range(600)]
    # one hot bucket: 80 members in (999, 0) - over a cap of 64
    rows += [(f"hot{i:03d}", 999, 0) for i in range(80)]
    banded = spark.createDataFrame(
        rows, "lemma string, band_idx long, band_hash long"
    ).localCheckpoint(eager=True)

    got = capped_bucket_pairs(
        banded, ["band_idx", "band_hash"], F.col("lemma"), lambda a, b: a < b, 64
    )
    # reference: the round-5 shape
    sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    guarded = banded.join(
        sizes.where(F.col("bsz") <= 64), ["band_idx", "band_hash"]
    )
    want = (
        guarded.select("band_idx", "band_hash", F.col("lemma").alias("a"))
        .join(
            guarded.select("band_idx", "band_hash", F.col("lemma").alias("b")),
            ["band_idx", "band_hash"],
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.where(F.col("a").startswith("hot")).count() == 0
    assert got.count() > 0

    # plan shape: exactly one join, the hot-key left-anti join
    got.collect()
    final = (
        got._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    joins = re.findall(r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\n]*", final)
    assert len(joins) == 1, joins
    assert "LeftAnti" in joins[0], joins


def _stored_rdd_ids(spark):
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_connected_components_releases_superseded_rounds(spark, monkeypatch):
    """Barrier-release discipline (round-6): a multi-round CC must not
    pin every round's localCheckpoint blocks for the rest of the
    session - DataFrame.unpersist() cannot reach them, so without
    materialize.release a long-lived session accumulates one edge-set
    copy per round per CC call. Default mode may keep only the blocks
    the lazy result still needs (input + final round); result_barrier
    mode returns a self-contained checkpoint and keeps exactly ONE."""
    from semanticrelationextractionpolish_spark.operators import linking
    from semanticrelationextractionpolish_spark.operators.materialize import (
        release,
    )

    monkeypatch.setattr(linking, "SMALL_GRAPH_MAX_EDGES", 0)  # the loop
    before = _stored_rdd_ids(spark)
    n = 120  # chain: contracts over several rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )

    comp = connected_components(edges)
    assert comp.count() == n
    leftover = _stored_rdd_ids(spark) - before
    assert len(leftover) <= 2, leftover  # input barrier + final round

    before2 = _stored_rdd_ids(spark)
    comp2 = connected_components(edges, result_barrier=True)
    got = {r["id"]: r["comp"] for r in comp2.collect()}
    assert got == {r["id"]: r["comp"] for r in comp.collect()}
    leftover2 = _stored_rdd_ids(spark) - before2
    assert len(leftover2) == 1, leftover2  # just the result checkpoint
    assert release(comp2)  # caller-owned; releasable
    assert len(_stored_rdd_ids(spark) - before2) == 0


def test_connected_components_fast_path_result_barrier_pins_nothing(spark):
    """On the small-graph fast path the result is driver rows already:
    result_barrier=True releases the input barrier and leaves no pinned
    block at all, and release() on the result is a no-op."""
    from semanticrelationextractionpolish_spark.operators.materialize import (
        release,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "src long, dst long"
    )
    before = _stored_rdd_ids(spark)
    comp = connected_components(edges, result_barrier=True)
    got = {r["id"]: r["comp"] for r in comp.collect()}
    assert len(got) == 120 and set(got.values()) == {0}
    assert len(_stored_rdd_ids(spark) - before) == 0
    assert release(comp) is False
    assert comp.count() == 120  # still usable


def test_release_is_noop_on_non_checkpoint_plans(spark):
    """release() must refuse plans that can recompute (not LogicalRDD):
    releasing a cached-but-lineage-bearing DataFrame would be wrong to
    report as released, and arbitrary lazy plans are untouched."""
    from semanticrelationextractionpolish_spark.operators.materialize import (
        release,
    )

    df = spark.range(10).selectExpr("id", "id * 2 AS x")
    assert release(df) is False
    assert df.count() == 10  # still usable
    cached = spark.range(10).cache()
    assert cached.count() == 10
    assert release(cached) is False  # CacheManager-cached, not a ckpt
    assert cached.count() == 10
    cached.unpersist()


# planted duplicates around the inputs every path must survive: NULL,
# empty and blank text, single tokens, non-ASCII
_CORE_FIXTURE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank again"),
    (4, "zażółć gęślą jaźń to polskie zdanie z ogonkami i kreskami nad literami"),
    (5, "zażółć gęślą jaźń to polskie zdanie z ogonkami i kreskami nad literą"),
    (6, None),
    (7, None),
    (8, ""),
    (9, "   "),
    (10, "słowo"),
    (11, "słowo"),
    (12, "completely different content about spark query planning this week"),
]


def _core_runs(spark, tmp_path, monkeypatch, run):
    """``run()`` under both verify branches x both barrier modes ->
    {(branch, mode): result}."""
    from semanticrelationextractionpolish_spark.operators import linking

    out = {}
    for branch, cap in (("direct", linking.SMALL_SIG_TABLE_KEYS), ("reduced", 0)):
        monkeypatch.setattr(linking, "SMALL_SIG_TABLE_KEYS", cap)
        for mode in ("local", "durable"):
            if mode == "durable":
                spark.conf.set(
                    "spark.semrex.checkpointDir", str(tmp_path / f"{branch}_ck")
                )
            try:
                out[(branch, mode)] = run()
            finally:
                spark.conf.unset("spark.semrex.checkpointDir")
    return out


def test_lsh_core_equivalence_across_branches_and_barrier_modes(
    spark, tmp_path, monkeypatch
):
    """The one LSH core gives the same answers on both verify branches
    (direct joins vs candidate barrier + key semi-join) and in both
    barrier modes (localCheckpoint vs spark.semrex.checkpointDir):
    MinHash dedup equals the DuckDB md5 oracle exactly, and linking's
    pair sets are identical."""
    import duckdb
    import pandas as pd

    from semanticrelationextractionpolish_spark.operators.dedup import (
        minhash_md5_oracle_sql,
        minhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(_CORE_FIXTURE, "doc_id long, text string")
    con = duckdb.connect()
    con.register(
        "fixture", pd.DataFrame(_CORE_FIXTURE, columns=["doc_id", "text"])
    )
    oracle = {
        (a, b, j)
        for a, b, j in con.execute(
            minhash_md5_oracle_sql(
                "WITH docs2 AS (SELECT doc_id, text FROM fixture)", jaccard=0.7
            )
        ).fetchall()
    }
    assert {(a, b) for a, b, _ in oracle} == {(1, 2), (1, 3), (2, 3), (4, 5)}

    dedup = _core_runs(
        spark,
        tmp_path / "dedup",
        monkeypatch,
        lambda: {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_near_dup_pairs(docs, jaccard=0.7).collect()
        },
    )
    for combo, got in dedup.items():
        assert got == oracle, combo

    lemmas = docs.select(F.col("text").alias("lemma"))
    link = _core_runs(
        spark,
        tmp_path / "link",
        monkeypatch,
        lambda: {
            (r["a"], r["b"], r["jaccard"])
            for r in lsh_candidate_pairs(lemmas, "lemma").collect()
        },
    )
    sets = list(link.values())
    assert all(s == sets[0] for s in sets), link
    pairs = {(a, b) for a, b, _ in sets[0]}
    # binary string order == code-point order
    assert tuple(sorted([_CORE_FIXTURE[0][1], _CORE_FIXTURE[2][1]])) in pairs
    assert tuple(sorted([_CORE_FIXTURE[3][1], _CORE_FIXTURE[4][1]])) in pairs
    assert all(None not in p and "" not in p for p in pairs)


def test_lsh_core_logs_verify_branch(spark, caplog, monkeypatch):
    """The core reports its size-adaptive verify decision once per call:
    branch, key count and cap, as one JSON log line."""
    import json
    import logging

    from semanticrelationextractionpolish_spark.operators import linking

    df = spark.createDataFrame(
        [("wrocław",), ("wrocławi",), ("kraków",)], "lemma string"
    )

    def decisions():
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=linking.__name__):
            pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(df).collect()}
        lines = [
            json.loads(r.getMessage().split(" ", 1)[1])
            for r in caplog.records
            if r.getMessage().startswith("lsh_verify ")
        ]
        return pairs, lines

    direct_pairs, direct = decisions()
    assert direct == [
        {"key": "lemma", "branch": "direct", "n_keys": 3, "cap": 200_000}
    ]
    monkeypatch.setattr(linking, "SMALL_SIG_TABLE_KEYS", 0)
    reduced_pairs, reduced = decisions()
    assert reduced == [{"key": "lemma", "branch": "reduced", "n_keys": 3, "cap": 0}]
    assert direct_pairs == reduced_pairs == {("wrocław", "wrocławi")}


def test_minhash_family_bands_a_one_word_twin():
    """The md5 MinHash family's 16 hashes must be independent: with
    coefficients arithmetic in the hash index, each shingle's 16 values
    form an arithmetic progression mod p and this 48-word document and
    its one-extra-word twin (Jaccard 46/47, a missed pair of the
    link_stream benchmark) shared no band at all. Pure kernel, no
    Spark."""
    import hashlib

    import pandas as pd

    from semanticrelationextractionpolish_spark.operators.dedup import (
        _minhash_md5_kernel,
    )

    h = hashlib.sha512(b"78:3264").hexdigest()
    a = " ".join(h[2 * i : 2 * i + 5] for i in range(48))
    b = a + " zz"
    pdf = pd.DataFrame({"lemma": ["a", "b"], "toks": [a.split(" "), b.split(" ")]})
    out = next(_minhash_md5_kernel(3)(iter([pdf])))
    bands_a, bands_b = out["bands"]
    assert sum(x == y for x, y in zip(bands_a, bands_b)) >= 1
