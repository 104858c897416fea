"""Gazetteer mention detection on raw (annotation-free) text."""

from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark.operators.ner import (
    GazetteerTagger,
    detect_mentions,
)


def test_gazetteer_longest_match():
    # gazetteers list known surface variants (the lemma key absorbs pure
    # suffix inflection; consonant-alternating forms are separate entries
    # and collapse later in LSH canonicalization)
    t = GazetteerTagger(
        {
            "Uniwersytet Warszawski": "org_nam",
            "Uniwersytecie Warszawskim": "org_nam",
            "Warszawa": "city_nam",
        }
    )
    hits = t.label_words("Studiował na Uniwersytecie Warszawskim dziś".split())
    assert len(hits) == 1
    b, e, cls, _ = hits[0]
    assert (b, e, cls) == (2, 3, "org_nam")  # longest match wins
    # pure suffix inflection resolves through the lemma key
    hits2 = t.label_words("Mieszkał w Warszawie przez rok".split())
    assert [(h[0], h[2]) for h in hits2] == [(2, "city_nam")]


def test_gazetteer_non_overlapping_left_to_right():
    t = GazetteerTagger({"Warszawa": "city_nam", "Kraków": "city_nam"})
    hits = t.label_words("Warszawa i Kraków".split())
    assert [(h[0], h[2]) for h in hits] == [(0, "city_nam"), (2, "city_nam")]


def test_detect_mentions_pipeline(spark):
    schema = "url string, text string, lang string"
    pages = spark.createDataFrame(
        [
            (
                "u1",
                "Adam Kowalski mieszka w Warszawie. Pogoda była ładna.",
                "pl",
            )
        ],
        schema,
    )
    sents = detect_mentions(pages)
    rows = {r["sent_idx"]: r for r in sents.collect()}
    s0 = rows[0]
    assert s0["n_entities"] == 2
    assert [(m["surface"], m["lemma"], m["entity_class"]) for m in s0["mentions"]] == [
        ("adam kowalski", "adam kowalsk", "person_nam"),
        ("warszawie", "warszaw", "city_nam"),
    ]
    labels = [e for e in s0["entities"] if e]
    assert labels[0] == "B-person_nam"
    assert "B-city_nam" in labels
    assert rows[1]["n_entities"] == 0
    # entity ids are page-scoped and distinct
    ids = {e for e in s0["entity_ids"] if e}
    assert len(ids) == 2 and all(i.startswith("u1#e") for i in ids)
    # a partition whose pages have no text yields no rows (and no frame
    # of empty columns that Arrow cannot convert)
    no_text = spark.createDataFrame([("u0", None, "pl")], schema).coalesce(1)
    assert detect_mentions(no_text).isEmpty()


def test_detected_mentions_feed_pairs(spark):
    from semanticrelationextractionpolish_spark.operators.pairs import generate_pairs

    pages = spark.createDataFrame(
        [("u1", "Maria Nowak pracuje w Orlenie.", "pl")],
        "url string, text string, lang string",
    )
    rels = spark.createDataFrame(
        [], "url string, e1_id string, e2_id string, rel_class string"
    )
    sents = detect_mentions(pages)
    pairs = generate_pairs(sents, rels)
    rows = pairs.collect()
    # the two detected mentions form one NO_RELATION candidate pair with
    # markers inserted
    pair_rows = [r for r in rows if r["e1_id"] is not None]
    assert len(pair_rows) == 1
    pr = pair_rows[0]
    assert "<e1>" in pr["tokens"] and "</e2>" in pr["tokens"]
    assert pr["gold_class"] == "NO_RELATION"
    # and the scorer recovers the works_for relation from the predicate
    from semanticrelationextractionpolish_spark.operators.score import score_pairs

    scored = score_pairs(pairs).collect()
    assert any(r["pred_class"] == "works_for" for r in scored)
