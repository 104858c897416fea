"""End-to-end Spark pipeline tests on the deterministic synthetic corpus,
cross-checked against the plain-Python document oracle."""

import re

import pytest
from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark import schemas
from semanticrelationextractionpolish_spark.functions import kernels as K
from semanticrelationextractionpolish_spark.functions.tokenizer import (
    DeterministicTokenizer,
    sent_tokenize,
)
from semanticrelationextractionpolish_spark.operators.extract import extract
from semanticrelationextractionpolish_spark.operators.mentions import (
    mentions_from_sentences,
)
from semanticrelationextractionpolish_spark.operators.pairs import (
    default_labels_map,
    generate_pairs,
)
from semanticrelationextractionpolish_spark.operators.score import (
    score_pairs,
    triples_from_scored,
)
from semanticrelationextractionpolish_spark.operators.segment import (
    pairs_of,
    segment_and_pair,
    segment_and_tag,
)
from semanticrelationextractionpolish_spark.plans.pipeline import (
    build_kg,
    evaluate_parity,
)
from semanticrelationextractionpolish_spark.sources.synth import (
    synth_pages,
    synth_pages_local,
)

N_PAGES = 50


@pytest.fixture(scope="module")
def corpus(spark):
    pages, rels = synth_pages(spark, N_PAGES)
    return pages.cache(), rels.cache()


@pytest.fixture(scope="module")
def stages(spark, corpus):
    pages, rels = corpus
    return build_kg(spark, pages, rels)


def test_extraction_byte_identical(corpus):
    pages, _ = corpus
    ext = extract(pages, validate=True)
    bad = ext.where(~F.col("extraction_ok")).count()
    assert bad == 0  # driver invariant: byte-identical text per url


def test_language_filter(stages, corpus):
    pages, _ = corpus
    n_pl = pages.where("lang = 'pl'").count()
    assert stages["pages"].count() == n_pl
    assert 0 < n_pl < N_PAGES  # corpus really contains non-pl pages


def test_sentence_counts_match_oracle(stages):
    local_pages, _ = synth_pages_local(N_PAGES)
    expected = {
        p["url"]: len(sent_tokenize(p["text"]))
        for p in local_pages
        if p["lang"] == "pl"
    }
    got = {
        r["url"]: r["n"]
        for r in stages["sentences"]
        .groupBy("url")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


def _oracle_pair_rows():
    """(url, row) for every pair row of the plain-Python doc-level oracle."""
    local_pages, local_rels = synth_pages_local(N_PAGES)
    raw_relations = {}
    for r in local_rels:
        raw_relations.setdefault(r["url"], {})[(r["e1_id"], r["e2_id"])] = r[
            "rel_class"
        ]
    tok = DeterministicTokenizer()
    labels_map = default_labels_map()
    for p in local_pages:
        if p["lang"] != "pl":
            continue
        rows = K.process_document_inline(
            doc_id=p["url"],
            doc_text=p["text"],
            tokenizer=tok,
            raw_relations=raw_relations,
            entity_labels_map=labels_map,
            use_entity_classes=True,
            add_no_relations=True,
        )
        for r in rows:
            if r["e1_id"] is not None:
                yield p["url"], r


def test_pairs_match_document_oracle(stages):
    """The pipeline's skinny pairs must equal the plain-Python doc-level
    oracle row-for-row: ids, gold class and marker coordinates."""
    span = ("e1_beg", "e1_end", "e2_beg", "e2_end")
    expected = {
        (url, r["sent_idx"], r["e1_id"], r["e2_id"])
        + (r["relation_info"].get("relation_class"),)
        + tuple(r["relation_info"][k] for k in span)
        for url, r in _oracle_pair_rows()
    }
    got = {
        (r["url"], r["sent_idx"], r["e1_id"], r["e2_id"], r["gold_class"])
        + tuple(r[k] for k in span)
        for r in stages["pairs"].collect()
    }
    assert got == expected


def test_marked_pairs_match_document_oracle(stages, corpus):
    """generate_pairs must equal the oracle row-for-row, marked token
    sequences included."""
    _, rels = corpus
    expected = {
        (
            url,
            r["sent_idx"],
            r["e1_id"],
            r["e2_id"],
            tuple(r["tokens"]),
            r["relation_info"].get("relation_class"),
        )
        for url, r in _oracle_pair_rows()
    }
    got = set()
    for r in generate_pairs(stages["sentences"], rels).collect():
        got.add(
            (
                r["url"],
                r["sent_idx"],
                r["e1_id"],
                r["e2_id"],
                tuple(r["tokens"]),
                r["gold_class"],
            )
        )
    assert got == expected


def test_cross_sentence_relations_dropped(stages, corpus):
    """Annotated pairs spanning sentences never become pair rows
    (readers.py:510 containment rule)."""
    _, rels = corpus
    pairs = stages["pairs"].select("e1_id", "e2_id").distinct()
    annotated = rels.select("e1_id", "e2_id").distinct()
    # the synthetic corpus plants cross-sentence annotations on idx%11==3
    # pages; those ids must not co-occur in any pair row
    local_pages, local_rels = synth_pages_local(N_PAGES)
    seen = {(r["e1_id"], r["e2_id"]) for r in stages["pairs"].collect()}
    planted = [
        (local_rels[i]["e1_id"], local_rels[i]["e2_id"])
        for i in range(len(local_rels))
    ]
    # cross-sentence = annotated pair whose ids have different mention
    # counters belonging to different sentences; verified via the oracle in
    # test_pairs_match_document_oracle - here just check at least one
    # annotated pair was dropped
    dropped = set(planted) - seen
    assert dropped, "expected at least one cross-sentence annotation dropped"


def test_pair_cap_page(stages):
    """Pages with a 16-entity sentence must not explode quadratically:
    augmentation is skipped at >=15 entities (readers.py:496)."""
    big = stages["sentences"].where(F.col("n_entities") >= 15)
    if big.count() == 0:
        pytest.skip("no cap-edge page in this corpus slice")
    urls = [r["url"] for r in big.select("url").distinct().collect()]
    for u in urls:
        sent_rows = (
            stages["pairs"].where((F.col("url") == u)).count()
        )
        # without the cap a 16-entity sentence alone would yield 120 pairs
        assert sent_rows < 120


def test_parity_p_r(stages):
    parity = evaluate_parity(stages)
    assert parity["precision"] >= 0.95
    assert parity["recall"] >= 0.95


def test_triple_parity_vs_reference_oracle(stages):
    """The north-rule gate stated directly: the engine's emitted triples
    vs the plain-Python reference-semantics oracle's positive-path
    triples, micro P/R >= 0.95 (here exact)."""
    local_pages, local_rels = synth_pages_local(N_PAGES)
    raw_relations = {}
    for r in local_rels:
        raw_relations.setdefault(r["url"], {})[(r["e1_id"], r["e2_id"])] = r[
            "rel_class"
        ]
    tok = DeterministicTokenizer()
    labels_map = default_labels_map()
    oracle_triples = set()
    for p in local_pages:
        if p["lang"] != "pl":
            continue
        for r in K.process_document_inline(
            doc_id=p["url"],
            doc_text=p["text"],
            tokenizer=tok,
            raw_relations=raw_relations,
            entity_labels_map=labels_map,
            use_entity_classes=True,
            add_no_relations=True,
        ):
            cls = r["relation_info"].get("relation_class")
            if r["e1_id"] is not None and cls and cls != "NO_RELATION":
                oracle_triples.add((p["url"], r["sent_idx"], r["e1_id"], r["e2_id"], cls))
    engine_triples = {
        (r["url"], r["sent_idx"], r["subj_id"], r["obj_id"], r["pred"])
        for r in stages["triples"].collect()
    }
    tp = len(engine_triples & oracle_triples)
    precision = tp / len(engine_triples)
    recall = tp / len(oracle_triples)
    assert precision >= 0.95 and recall >= 0.95
    assert engine_triples == oracle_triples  # exact on this corpus


def test_mentions_surface_and_lemma(stages):
    m = stages["mentions"]
    rows = m.where(F.col("surface") == "").count()
    assert rows == 0
    one = m.where(F.col("entity_class") == "city_nam").first()
    assert one is not None and one["lemma"]


def test_every_triple_keeps_its_edge(spark, lemma_edge_pages):
    """A triple's subject and object lemmas are its sentence's mention
    lemmas, so linking gives each of the three triples an edge: an id
    tagged twice in a sentence and a U+2581 inside a surface no longer
    give the triple a lemma that no mention has."""
    pages, rels = lemma_edge_pages
    stages = build_kg(spark, pages, rels, persist=False)
    triples = stages["triples"].collect()
    assert len(triples) == 3
    mentions = {
        (r["url"], r["sent_idx"], r["entity_id"]): r["lemma"]
        for r in stages["mentions"].collect()
    }
    for t in triples:
        assert t["subj"] == mentions[(t["url"], t["sent_idx"], t["subj_id"])]
        assert t["obj"] == mentions[(t["url"], t["sent_idx"], t["obj_id"])]
    assert {t["subj"] for t in triples} >= {"jan janek", "anna ▁ nowak"}
    assert stages["edges"].agg(F.sum("n_evidence")).first()[0] == 3


def test_triples_deterministic_across_runs(spark, corpus):
    pages, rels = corpus
    s1 = build_kg(spark, pages, rels)
    s2 = build_kg(spark, pages, rels)
    t1 = {tuple(r) for r in s1["triples"].collect()}
    t2 = {tuple(r) for r in s2["triples"].collect()}
    assert t1 == t2


# every PAIRS column except the marker-inserted arrays
PAIR_COLS = [f.name for f in schemas.PAIRS.fields if f.name not in schemas.MARKED_ARRAYS]


def _assert_same_rows(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _ent(eid, surface, cat="person_nam"):
    return f'<entity id="{eid}" category="{cat}">{surface}</entity>'


def _crowd(prefix, ids):
    return " i ".join(_ent(f"{prefix}.{k}", f"Osoba{k}") for k in ids)


@pytest.fixture(scope="module")
def edge_corpus(spark):
    """Hand-built pages for each edge of the document pair loop."""
    pages = [
        # one 16-entity sentence: the cap skips augmentation, so only the
        # annotated pair is a candidate
        ("u_cap", f"Spotkali się {_crowd('c', range(1, 17))} w sali.", "pl"),
        # (k.1, k.2) is augmented as NO_RELATION in sentence 0 and carried
        # into sentence 1, whose 16 entities augment nothing themselves
        (
            "u_carry",
            f"{_ent('k.1', 'Anna')} zna {_ent('k.2', 'Marka')}. "
            f"Potem przyszli {_crowd('k', range(1, 17))} razem.",
            "pl",
        ),
        # the annotated pair spans two sentences: dropped
        (
            "u_cross",
            f"{_ent('x.1', 'Jan')} mieszka tutaj. {_ent('x.2', 'Ewa')} też.",
            "pl",
        ),
        ("u_null", None, "pl"),
        ("u_empty", "", "pl"),
        # no relations at all: augmentation alone makes the pair
        (
            "u_norels",
            f"{_ent('n.1', 'Piotr')} lubi {_ent('n.2', 'Krakow', 'city_nam')}.",
            "pl",
        ),
    ]
    rels = [
        ("u_cap", "c.1", "c.2", "knows"),
        ("u_cross", "x.1", "x.2", "knows"),
    ]
    return (
        spark.createDataFrame(pages, "url string, text string, lang string"),
        spark.createDataFrame(
            rels, "url string, e1_id string, e2_id string, rel_class string"
        ),
    )


@pytest.fixture(scope="module")
def golden_corpus(spark):
    pages, rels = synth_pages(spark, 30)
    return pages.where("lang='pl'").cache(), rels.cache()


@pytest.mark.parametrize("which", ["edge_corpus", "golden_corpus"])
def test_segment_and_pair_matches_two_stage_path(request, which):
    """One kernel per page equals segment_and_tag -> generate_pairs: the
    sentences exactly, and the pairs on every non-array column."""
    pages, rels = request.getfixturevalue(which)
    tagged = segment_and_pair(pages, rels)
    sents = segment_and_tag(pages)
    _assert_same_rows(tagged.drop("pairs"), sents)
    _assert_same_rows(
        pairs_of(tagged), generate_pairs(sents, rels).select(*PAIR_COLS)
    )
    assert pairs_of(tagged).columns == PAIR_COLS


def test_generate_pairs_ignores_sentence_order(
    spark, corpus, edge_corpus, tmp_path
):
    """generate_pairs groups sentence rows per url, so order and
    partitioning cannot change its pairs: segment_and_tag output, an
    md5-ordered shuffle, two documents interleaved in one partition and
    a parquet round-trip give identical rows, marked arrays included.
    u_carry's pairs depend on its sentence order (a NO_RELATION pair
    carries from sentence 0 into sentence 1), so the interleaved frame
    also feeds its sentences in reverse."""
    pages = corpus[0].where("lang='pl'").select("url", "text", "lang")
    rels = corpus[1].unionByName(edge_corpus[1])
    sents = segment_and_tag(pages.unionByName(edge_corpus[0]))
    base = generate_pairs(sents, rels)
    shuffled = sents.orderBy(F.md5(F.concat_ws("|", "url", F.col("sent_idx"))))
    _assert_same_rows(generate_pairs(shuffled, rels), base)

    synth = sents.where((F.col("sent_idx") > 0) & ~F.col("url").startswith("u_"))
    two = F.col("url").isin("u_carry", synth.first()["url"])
    rows = sents.where(two).orderBy(F.desc("sent_idx")).collect()
    assert len({r["url"] for r in rows}) == 2
    interleaved = spark.createDataFrame(rows, sents.schema).coalesce(1)
    assert base.where(two).where("gold_class = 'NO_RELATION'").count() > 0
    _assert_same_rows(generate_pairs(interleaved, rels), base.where(two))

    path = str(tmp_path / "sentences")
    sents.repartition(4).write.parquet(path)
    _assert_same_rows(generate_pairs(spark.read.parquet(path), rels), base)


def test_segment_and_pair_edges(edge_corpus):
    pages, rels = edge_corpus
    tagged = segment_and_pair(pages, rels)
    got = {}
    for r in pairs_of(tagged).collect():
        got.setdefault(r["url"], []).append(
            (r["sent_idx"], r["e1_id"], r["e2_id"], r["gold_class"])
        )
    assert got.pop("u_cap") == [(0, "c.1", "c.2", "knows")]
    assert sorted(got.pop("u_carry")) == [
        (0, "k.1", "k.2", "NO_RELATION"),
        (1, "k.1", "k.2", "NO_RELATION"),
    ]
    assert got.pop("u_norels") == [(0, "n.1", "n.2", "NO_RELATION")]
    assert got == {}  # u_cross dropped; null and empty pages make nothing
    n_sents = {
        r["url"]: r["n"]
        for r in tagged.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    assert n_sents == {"u_cap": 1, "u_carry": 2, "u_cross": 2, "u_norels": 1}


def test_segment_and_pair_duplicate_urls_are_independent(spark, edge_corpus):
    """Two page rows with one url are two documents: each is segmented
    and paired on its own (one set of rows per page row, the per-row
    precedent of mentions_from_sentences), where generate_pairs would
    merge the two rows' sentences into one url's document."""
    pages, rels = edge_corpus
    once = pages.where("url = 'u_carry'")
    # the copies are not adjacent and share one partition
    twice = once.unionByName(pages.where("url = 'u_norels'")).unionByName(once)
    twice = twice.coalesce(1)
    one, two = segment_and_pair(once, rels), segment_and_pair(twice, rels)
    _assert_same_rows(
        two.where("url = 'u_carry'"), one.unionByName(one)
    )
    assert pairs_of(two).where("url = 'u_carry'").count() == 4


def test_build_kg_runs_one_python_map(spark, corpus):
    """Extract, segment and pairs cross into Python once: the executed
    plan of the triples holds exactly one Python map node."""
    pages, rels = (df.localCheckpoint(eager=True) for df in corpus)
    triples = build_kg(spark, pages, rels, link=False)["triples"]
    triples.count()
    plan = triples._jdf.queryExecution().executedPlan().toString()
    # AQE prints the initial and the final plan: count distinct nodes
    nodes = set(re.findall(r"MapInPandas \w+\(.*?\)#(\d+)", plan))
    assert len(nodes) == 1, plan
