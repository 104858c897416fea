"""Plan-quality regression tests: the physical-plan properties PLANS.md
documents, pinned in pytest so an optimizer-hostile refactor fails CI
instead of silently 10x-ing the 100TB run."""

import re

from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark.sources.synth import synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark, tmp_path):
    """lang filter must reach the parquet scan (PushedFilters) and the
    scan must read only the referenced columns (ReadSchema)."""
    pages, _ = synth_pages(spark, 50)
    p = str(tmp_path / "pages_pq")
    pages.write.parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("lang") == "pl")
        .select("url", "text")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,pl)]" in plan, plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "url" in read_schema and "text" in read_schema and "lang" in read_schema
    assert "html" not in read_schema  # the fat binary column is pruned


def test_edges_from_triples_broadcasts_the_dim(spark):
    """The node-assignment dim join must be a BroadcastHashJoin, never a
    shuffled SMJ (the dim is entity-scale, the triples corpus-scale)."""
    from semanticrelationextractionpolish_spark.operators.linking import (
        edges_from_triples,
    )

    triples = spark.createDataFrame(
        [("u1", 0, "warszaw", "location", "orlen")],
        "url string, sent_idx int, subj string, pred string, obj string",
    )
    na = spark.createDataFrame(
        [("warszaw", 1, "warszaw"), ("orlen", 2, "orlen")],
        "lemma string, node_id long, canonical string",
    )
    plan = _plan(edges_from_triples(triples, na))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_bands_are_skinny(spark):
    """The band explode must not carry the shingle array (round-2
    verdict #2): the Generate's output schema is (lemma|doc, band_idx,
    band_hash) only."""
    from semanticrelationextractionpolish_spark.operators.linking import (
        _band_rows,
        shingle_table,
    )

    df = spark.createDataFrame([("warszawa",), ("krakow",)], "lemma string")
    banded = _band_rows(shingle_table(df), "lemma")
    assert set(banded.columns) == {"lemma", "band_idx", "band_hash"}


def test_ann_single_probe_plan_has_no_generate(spark):
    """The round-4 A/B caught a +45% ann_topk regression when the
    multi-probe rewrite put a probe-array Generate on the single-probe
    query side; the n_probe=1 fast path (shared bucket column, no
    explode, one broadcast join) is pinned here."""
    from semanticrelationextractionpolish_spark.operators.similarity import (
        ann_topk,
        planted_embeddings,
    )

    emb = planted_embeddings(spark, n_base=50, n_queries=5, n_neighbors=2)
    single = ann_topk(emb, query_ids=[0, 1], k=3, n_probe=1)
    plan1 = _plan(single)
    assert "Generate" not in plan1, plan1
    assert "BroadcastHashJoin" in plan1
    # multi-probe: exactly one Generate, and ONLY on the tiny query side
    multi = ann_topk(emb, query_ids=[0, 1], k=3, n_probe=4)
    plan4 = _plan(multi)
    assert plan4.count("Generate") == 1, plan4
    assert "BroadcastHashJoin" in plan4


def _subtrees(plan: str, node: str):
    """Each ``node`` line of a printed plan with the lines of its
    subtree (the following lines indented deeper than it)."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    for i, ln in enumerate(lines):
        if ln.lstrip(" :+-").startswith(node):
            j = i + 1
            while j < len(lines) and depth[j] > depth[i]:
                j += 1
            yield "\n".join(lines[i:j])


def test_generate_pairs_shuffles_sentences_once(spark):
    """generate_pairs moves the sentence arrays through exactly one
    hash exchange on url (the group into document rows) and needs no
    sort: a document row is whole, whatever the order of its input."""
    from semanticrelationextractionpolish_spark.operators.pairs import (
        generate_pairs,
    )
    from semanticrelationextractionpolish_spark.operators.segment import (
        segment_and_tag,
    )

    pages, rels = synth_pages(spark, 50)
    pairs = generate_pairs(segment_and_tag(pages.where("lang='pl'")), rels)
    pairs.collect()
    plan = _plan(pairs)
    # AQE prints the final plan first, then the initial plan
    final = plan.split("== Initial Plan ==")[0]
    sentence_exchanges = [
        t
        for t in _subtrees(final, "Exchange hashpartitioning(url")
        if "tokens" in t
    ]
    assert len(sentence_exchanges) == 1, final
    # the first MapInPandas is generate_pairs' kernel; segment's is below
    kernel = next(_subtrees(final, "MapInPandas"))
    assert not re.search(r"[-+] (\*\(\d+\) )?Sort", kernel), kernel


def test_driver_gate_surface_contract():
    """Round-5 discovery: the driver's correctness gate records exactly
    the FIRST 50 registration-order entries of queries() — round 4
    registered 51 and the 51st (kg_gold_parity, the north-rule P/R
    metric) silently fell off the recorded surface. Pin the discipline:
    at most 50 queries, the parity query first, and every query backed
    by an oracle (no silent rows-only downgrades)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()
    assert len(qs) <= 50, f"{len(qs)} queries registered; the gate records 50"
    assert next(iter(qs)) == "kg_gold_parity", "parity query must register first"
    oracles = mod.oracle_sql()
    missing = set(qs) - set(oracles)
    assert not missing, f"queries without oracles: {sorted(missing)}"
    stale = set(oracles) - set(qs)
    assert not stale, f"oracles without queries: {sorted(stale)}"
