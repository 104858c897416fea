"""Lineage/counters + checkpoint-resume tests (north-rule resumability)."""

import os

from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark.operators.materialize import (
    checkpoint_parquet,
    partition_counters,
    write_graph,
)
from semanticrelationextractionpolish_spark.plans.pipeline import (
    build_kg,
    lineage_report,
)
from semanticrelationextractionpolish_spark.sources.synth import synth_pages


def test_lineage_counters(spark):
    pages, rels = synth_pages(spark, 30)
    stages = build_kg(spark, pages, rels)
    n_sent = stages["sentences"].count()
    n_triples = stages["triples"].count()
    n_evidence = stages["edges"].agg(F.sum("n_evidence")).first()[0]
    rep = lineage_report(stages)
    assert rep["sentences"]["rows"] == n_sent
    assert rep["triples"]["rows"] == n_triples
    assert rep["pages_kept"]["rows"] == pages.where("lang='pl'").count()
    assert rep["sentences"]["n_entity_mentions"] > 0
    # every triple of the synthetic corpus links to two nodes
    assert rep["edges_unlinked"]["rows"] == 0
    assert n_evidence == n_triples


def test_partition_counters(spark):
    pages, _ = synth_pages(spark, 20)
    pc = partition_counters(pages).collect()
    assert sum(r["rows"] for r in pc) == 20
    assert all(r["_pid"] >= 0 for r in pc)


def test_checkpoint_resume_skips_recompute(spark, tmp_path):
    calls = {"n": 0}
    pages, _ = synth_pages(spark, 10)

    path = str(tmp_path / "ck")
    df1 = checkpoint_parquet(pages, path)
    assert df1.count() == 10
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # a second call must read, not rewrite
    success = os.path.join(path, "_SUCCESS")
    mtime = os.path.getmtime(success)
    df2 = checkpoint_parquet(pages.limit(3), path)  # different df, same path
    assert df2.count() == 10  # old data returned - stage skipped
    assert os.path.getmtime(success) == mtime  # nothing rewritten


def test_midpipeline_kill_resume(spark, tmp_path):
    """North-rule resumability, failure shape: a run dies mid-pipeline
    leaving (a) complete early-stage checkpoints and (b) a PARTIAL later
    stage (files but no _SUCCESS). The re-run must reuse the complete
    stages untouched and recompute the partial one from them."""
    import shutil

    from semanticrelationextractionpolish_spark.plans.pipeline import build_kg

    pages, rels = synth_pages(spark, 25)
    ck = str(tmp_path / "kgck")
    stages = build_kg(spark, pages, rels, checkpoint_dir=ck, link=False)
    want_triples = stages["triples"].count()
    assert os.path.exists(os.path.join(ck, "pairs", "_SUCCESS"))

    # simulate the kill: pairs died mid-write (drop its _SUCCESS, leave
    # part files), triples never ran
    os.remove(os.path.join(ck, "pairs", "_SUCCESS"))
    shutil.rmtree(os.path.join(ck, "triples"))
    sent_success = os.path.join(ck, "sentences", "_SUCCESS")
    sent_mtime = os.path.getmtime(sent_success)

    stages2 = build_kg(spark, pages, rels, checkpoint_dir=ck, link=False)
    assert stages2["triples"].count() == want_triples
    # sentences stage untouched (resumed), pairs re-written to completion
    assert os.path.getmtime(sent_success) == sent_mtime
    assert os.path.exists(os.path.join(ck, "pairs", "_SUCCESS"))
    assert os.path.exists(os.path.join(ck, "triples", "_SUCCESS"))


def test_resume_recomputes_checkpoints_of_an_older_stage_layout(spark, tmp_path):
    """A complete checkpoint whose columns are not its stage's - written
    by an older layout of the stage - is recomputed, not fed on: here a
    "sentences" checkpoint without the ``pairs`` column and a "pairs"
    checkpoint that still holds the marker-inserted arrays."""
    from semanticrelationextractionpolish_spark.operators.pairs import (
        generate_pairs,
    )
    from semanticrelationextractionpolish_spark.operators.segment import (
        segment_and_tag,
    )

    pages, rels = synth_pages(spark, 25)
    want = sorted(build_kg(spark, pages, rels, link=False)["triples"].collect())
    ck = str(tmp_path / "kgck")
    old_sentences = checkpoint_parquet(
        segment_and_tag(
            pages.where("lang='pl'"), text_col="html", from_html=True
        ),
        os.path.join(ck, "sentences"),
    )
    checkpoint_parquet(
        generate_pairs(old_sentences, rels), os.path.join(ck, "pairs")
    )

    stages = build_kg(spark, pages, rels, checkpoint_dir=ck, link=False)
    assert sorted(stages["triples"].collect()) == want
    assert "pairs" in spark.read.parquet(os.path.join(ck, "sentences")).columns
    assert "tokens" not in spark.read.parquet(os.path.join(ck, "pairs")).columns


def test_lineage_report_after_a_resumed_run(spark, tmp_path):
    """A ``build_kg(checkpoint_dir=)`` run that resumes every stage runs
    no action over the observed plans: ``lineage_report`` reports those
    stages as resumed instead of blocking on an Observation that never
    fires, and no ``edges_unlinked`` watcher is started for edges that
    were read back, not computed."""
    import threading

    pages, rels = synth_pages(spark, 20)
    ck = str(tmp_path / "kgck")

    def report_within(stages, seconds=60):
        out = {}
        t = threading.Thread(
            target=lambda: out.update(lineage_report(stages)), daemon=True
        )
        t.start()
        t.join(seconds)
        assert not t.is_alive(), "lineage_report blocked"
        return out

    first = report_within(build_kg(spark, pages, rels, checkpoint_dir=ck))
    n_triples = spark.read.parquet(os.path.join(ck, "triples")).count()
    assert first["triples"]["rows"] == n_triples > 0
    assert first["edges_unlinked"]["rows"] == 0

    before = set(threading.enumerate())
    resumed = build_kg(spark, pages, rels, checkpoint_dir=ck)
    started = set(threading.enumerate()) - before
    assert resumed["triples"].count() == n_triples
    assert report_within(resumed) == {
        name: {"resumed": True}
        for name in ("pages_kept", "sentences", "triples", "edges_unlinked")
    }
    assert not [t for t in started if t.name == "edges_unlinked"]


def test_barrier_durable_checkpoint_kill_resume(spark, tmp_path):
    """spark.semrex.checkpointDir routes the hot-path lineage barriers
    (dedup/linking localCheckpoints) through durable _SUCCESS-gated
    parquet stage checkpoints: a re-run after a mid-job kill reuses the
    completed shingle/signature checkpoint untouched and recomputes only
    the lost stage (round-2 verdict item #3)."""
    from semanticrelationextractionpolish_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"wspólny tekst bazowy numer {i % 5} z kilkoma słowami") for i in range(30)],
        "doc_id long, text string",
    )
    ck = str(tmp_path / "barriers")
    spark.conf.set("spark.semrex.checkpointDir", ck)
    try:
        pairs1 = sorted(map(tuple, DD.minhash_near_dup_pairs(docs).collect()))
        # round-7 layout: signatures AND band-key arrays live in ONE
        # merged, version-named checkpoint (minhash_sigs_v3); the
        # separate minhash_bands stage no longer exists
        sigs_success = os.path.join(ck, "minhash_sigs_v3", "_SUCCESS")
        assert os.path.exists(sigs_success)
        mtime = os.path.getmtime(sigs_success)
        # intact re-run: the completed checkpoint is reused untouched
        pairs2 = sorted(map(tuple, DD.minhash_near_dup_pairs(docs).collect()))
        assert pairs1 == pairs2
        assert os.path.getmtime(sigs_success) == mtime  # reused, not rewritten
        # simulate the kill: signature stage died mid-write (_SUCCESS
        # missing, part files left) - the re-run must rewrite it to
        # completion and still produce identical pairs
        os.remove(sigs_success)
        pairs3 = sorted(map(tuple, DD.minhash_near_dup_pairs(docs).collect()))
        assert pairs1 == pairs3
        assert os.path.exists(sigs_success)
    finally:
        spark.conf.unset("spark.semrex.checkpointDir")


def test_barrier_default_is_local_checkpoint(spark, tmp_path):
    """Without the conf, barrier() must not write anything to disk."""
    from semanticrelationextractionpolish_spark.operators.materialize import barrier

    df = spark.range(10)
    out = barrier(df.withColumn("x", F.col("id") * 2), str(tmp_path / "never"))
    assert out.count() == 10
    assert not os.path.exists(str(tmp_path / "never"))


def test_write_graph_round_trip(spark, tmp_path):
    """The parquet graph holds exactly the input frames' rows."""
    nodes = spark.createDataFrame(
        [(i, f"lemma{i}", [f"S{i}", f"s{i}"], i + 1) for i in range(40)]
        + [(99, "pusty", [], 1)],
        "node_id long, canonical string, surfaces array<string>, n_mentions long",
    )
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 40, f"rel{i % 3}", i) for i in range(60)]
        + [(5, 5, None, 2)],
        "src long, dst long, pred string, n_evidence long",
    )
    write_graph(nodes, edges, str(tmp_path))
    for name, df in (("nodes", nodes), ("edges", edges)):
        back = spark.read.parquet(str(tmp_path / name))
        assert back.schema == df.schema, name
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, df.collect())
        ), name
