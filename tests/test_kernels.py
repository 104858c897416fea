"""Reference-semantics unit tests for the pure kernels.

Golden expectations are hand-derived from the reference implementation
(/root/reference/readers.py, readers_kpwr.py) - the reference itself is
not runnable here (its nltk/bs4/bpemb deps are absent), so each test
cites the reference lines whose behavior it pins.
"""

import pytest

from semanticrelationextractionpolish_spark.functions import kernels as K
from semanticrelationextractionpolish_spark.functions.tokenizer import (
    DeterministicTokenizer,
    SPECIAL_TOKEN_IDS,
    detokenize,
    sent_tokenize,
)


@pytest.fixture(scope="module")
def tok():
    return DeterministicTokenizer()


# --- tokenizer --------------------------------------------------------------

def test_tokenize_marks_word_boundaries(tok):
    res = tok.tokenize("Adam mieszka w Warszawie.")
    assert res["tokens"][0].startswith("▁")
    assert len(res["tokens"]) == len(res["token_ids"])
    # deterministic across calls
    assert tok.tokenize("Adam mieszka w Warszawie.") == res


def test_punctuation_fix(tok):
    # readers.py:88-101 - lone '.'/',' collapse to bare punctuation
    assert tok.tokenize(".")["tokens"] == ["."]
    assert tok.tokenize(",")["tokens"] == [","]
    assert tok.tokenize("a.")["tokens"][-1] == "."


def test_enclose_markers(tok):
    # readers.py:102-107
    res = tok.tokenize("Kraków", enclose_e1=True)
    assert res["tokens"][0] == "<e1>" and res["tokens"][-1] == "</e1>"
    assert res["token_ids"][0] == SPECIAL_TOKEN_IDS["<e1>"]


def test_detokenize_roundtrip(tok):
    text = "maria nowak pracuje w orlenie."
    assert detokenize(tok.tokenize(text)["tokens"]) == text


def test_sent_tokenize():
    assert sent_tokenize("Ala ma kota. Kot ma Alę! Co dalej?") == [
        "Ala ma kota.",
        "Kot ma Alę!",
        "Co dalej?",
    ]
    assert sent_tokenize("") == []


# --- entity_id_sorter (readers.py:13-18) ------------------------------------

def test_entity_id_sorter_numeric_suffix():
    ids = ["d1.10", "d1.2", "d1.1"]
    assert sorted(ids, key=K.entity_id_sorter) == ["d1.1", "d1.2", "d1.10"]


def test_entity_id_sorter_plain_string():
    assert sorted(["b", "a"], key=K.entity_id_sorter) == ["a", "b"]


# --- inline tagging (readers.py:452-493) ------------------------------------

def test_tag_sentence_inline_iob(tok):
    sent = 'Tu jest <entity id="d.1" category="city_nam">Kraków</entity> dziś.'
    toks, tids, ents, eids, uniq = K.tag_sentence_inline(
        sent, tok, "iob", use_entity_classes=True
    )
    assert uniq == {"d.1"}
    assert len(toks) == len(tids) == len(ents) == len(eids)
    span = [i for i, e in enumerate(eids) if e == "d.1"]
    assert ents[span[0]] == "B-city_nam"
    for i in span[1:]:
        assert ents[i] == "I-city_nam"
    for i in range(len(toks)):
        if i not in span:
            assert ents[i] is None and eids[i] is None


def test_tag_sentence_single_subword_entity(tok):
    # single-token entity gets bare B- (readers.py:480-482)
    sent = '<entity id="x.1">w</entity> lesie'
    _, _, ents, eids, _ = K.tag_sentence_inline(sent, tok, "iob")
    assert ents[0] == "B-ENT" and eids[0] == "x.1"


def test_tag_sentence_no_scheme(tok):
    sent = '<entity id="x.1" category="org_nam">Orlen</entity>'
    _, _, ents, _, _ = K.tag_sentence_inline(
        sent, tok, None, use_entity_classes=True
    )
    assert set(e for e in ents if e) == {"org_nam"}


# --- NO_RELATION augmentation caps (readers.py:494-504) ---------------------

def test_augment_no_relations_basic():
    rels = {("d.1", "d.2"): "lives_in"}
    K.augment_no_relations({"d.1", "d.2", "d.3"}, rels)
    assert rels[("d.1", "d.3")] == "NO_RELATION"
    assert rels[("d.2", "d.3")] == "NO_RELATION"
    assert rels[("d.1", "d.2")] == "lives_in"  # existing preserved


def test_augment_no_relations_single_entity_noop():
    rels = {}
    K.augment_no_relations({"d.1"}, rels)
    assert rels == {}


def test_augment_no_relations_cap_at_15():
    # cap is EXCLUSIVE: 15 entities -> no augmentation (readers.py:496)
    rels = {}
    K.augment_no_relations({f"d.{i}" for i in range(1, 16)}, rels)
    assert rels == {}
    rels = {}
    K.augment_no_relations({f"d.{i}" for i in range(1, 15)}, rels)
    assert len(rels) == 14 * 13 // 2


def test_augment_pairs_sorted_by_numeric_suffix():
    # combinations over entity_id_sorter order (readers.py:497)
    rels = {}
    K.augment_no_relations({"d.10", "d.2", "d.9"}, rels)
    assert ("d.2", "d.9") in rels and ("d.9", "d.10") in rels and ("d.2", "d.10") in rels


# --- positional-offset arithmetic (readers_kpwr.py:380-412) -----------------

def test_calculate_offsets_iob_and_swap():
    labels = ["O", "B-city_nam-1", "I-city_nam-1", "O", "B-person_nam-1", "O"]
    pos = K.calculate_positional_token_offsets(
        entity_labels=labels,
        from_label_pure="person_nam-1",
        to_label_pure="city_nam-1",
        entity_encoding_scheme="iob",
    )
    # from=person (at 4) is AFTER to=city (at 1) -> swapped so e1 is left
    assert pos == {"e1_beg": 1, "e1_end": 2, "e2_beg": 4, "e2_end": 4}


def test_calculate_offsets_no_scheme():
    labels = ["a-1", "a-1", "O", "b-2"]
    pos = K.calculate_positional_token_offsets(
        entity_labels=labels,
        from_label_pure="a-1",
        to_label_pure="b-2",
        entity_encoding_scheme=None,
    )
    assert pos == {"e1_beg": 0, "e1_end": 1, "e2_beg": 3, "e2_end": 3}


# --- marker insertion (readers_kpwr.py:414-498) -----------------------------

def _mk_arrays():
    # "ala nowak widzi gdańsk dziś" with person span [1,2), wait spans:
    # tokens:  t0   t1      t2      t3      t4
    # labels:  O    B-p-1   I-p-1   O       B-c-1
    tokens = ["t0", "t1", "t2", "t3", "t4"]
    token_ids = [10, 11, 12, 13, 14]
    ents = ["O", "B-person_nam-1", "I-person_nam-1", "O", "B-city_nam-1"]
    labels_map = K.mk_labels_map(["person_nam", "city_nam"], "iob")
    eids = [
        K.get_kpwr_entity_id_from_indexed_label(e, labels_map, "iob") for e in ents
    ]
    return tokens, token_ids, ents, eids, labels_map


def test_insert_positional_tokens_exact():
    tokens, token_ids, ents, eids, labels_map = _mk_arrays()
    positions = {"e1_beg": 1, "e1_end": 2, "e2_beg": 4, "e2_end": 4}
    toks, tids, ents2, eids2, loc = K.insert_positional_tokens(
        tokens=tokens,
        token_ids=token_ids,
        entities=ents,
        entity_ids=eids,
        positions=positions,
        entity_encoding_scheme="iob",
        labels_map=labels_map,
        positional_tokens="scheme_1",
        special_token_ids=SPECIAL_TOKEN_IDS,
        corpus="kpwr",
    )
    assert toks == ["t0", "<e1>", "t1", "t2", "</e1>", "t3", "<e2>", "t4", "</e2>"]
    # final locations: (+0, +2, +2, +4) (readers_kpwr.py:494-497)
    assert loc == {"e1_beg": 1, "e1_end": 4, "e2_beg": 6, "e2_end": 8}
    assert toks[loc["e1_beg"]] == "<e1>" and toks[loc["e1_end"]] == "</e1>"
    assert toks[loc["e2_beg"]] == "<e2>" and toks[loc["e2_end"]] == "</e2>"
    # IOB label surgery: opening marker carries B-, span tokens + closing
    # marker carry I- (readers_kpwr.py:436-456)
    assert ents2 == [
        "O",
        "B-person_nam-1",
        "I-person_nam-1",
        "I-person_nam-1",
        "I-person_nam-1",
        "O",
        "B-city_nam-1",
        "I-city_nam-1",
        "I-city_nam-1",
    ]
    assert tids[1] == SPECIAL_TOKEN_IDS["<e1>"]
    assert tids[8] == SPECIAL_TOKEN_IDS["</e2>"]


def test_insert_positional_tokens_scheme2():
    tokens, token_ids, ents, eids, labels_map = _mk_arrays()
    positions = {"e1_beg": 1, "e1_end": 2, "e2_beg": 4, "e2_end": 4}
    special = dict(SPECIAL_TOKEN_IDS)
    special.update({"$": 777, "#": 888})
    toks, *_ , loc = K.insert_positional_tokens(
        tokens=tokens,
        token_ids=token_ids,
        entities=ents,
        entity_ids=eids,
        positions=positions,
        entity_encoding_scheme="iob",
        labels_map=labels_map,
        positional_tokens="scheme_2",
        special_token_ids=special,
        corpus="kpwr",
    )
    assert toks == ["t0", "$", "t1", "t2", "$", "t3", "#", "t4", "#"]


# --- label vocab (readers_kpwr.py:48-88) ------------------------------------

def test_mk_labels_map_iob():
    m = K.mk_labels_map(["city_nam", "person_nam"], "iob")
    assert m["O"] == 0
    assert m["B-city_nam"] == 1 and m["I-city_nam"] == 2
    assert m["B-person_nam"] == 3 and m["I-person_nam"] == 4


def test_mk_labels_map_bilou():
    m = K.mk_labels_map(["x_nam"], "bilou")
    assert [m[f"{p}-x_nam"] for p in "BILU"] == [1, 2, 3, 4]


def test_get_kpwr_entity_id_strips_index():
    m = K.mk_labels_map(["person_nam"], "iob")
    assert K.get_kpwr_entity_id_from_indexed_label("B-person_nam-7", m, "iob") == 1
    assert K.get_kpwr_entity_id_from_indexed_label("O", m, "iob") == 0


# --- KPWr multi-entity path (readers_kpwr.py:176-356) -----------------------

def test_nonoverlapping_pairs_detects_overlap():
    multients = [
        ["B-city_nam-1", "B-facility_nam-1"],  # overlap on this token
        ["I-city_nam-1"],
        ["O"],
        ["B-person_nam-1"],
    ]
    pairs = K.kpwr_find_all_non_overlapping_entity_pairs(
        multients=multients, entity_encoding_scheme="iob"
    )
    assert ("city_nam-1", "facility_nam-1") not in pairs
    assert ("city_nam-1", "person_nam-1") in pairs
    assert ("facility_nam-1", "person_nam-1") in pairs


def test_nonoverlapping_pairs_max_nchoosek():
    multients = [[f"B-ch{i:02d}_nam-1"] for i in range(40)]
    pairs = K.kpwr_find_all_non_overlapping_entity_pairs(
        multients=multients, entity_encoding_scheme="iob"
    )
    assert len(pairs) <= K.MAX_NCHOOSEK


def _kpwr_fixture():
    tokens = ["t0", "t1", "t2", "t3"]
    token_ids = [1, 2, 3, 4]
    multients = [
        ["B-person_nam-1"],
        ["I-person_nam-1"],
        ["O"],
        ["B-city_nam-1"],
    ]
    labels_map = K.mk_labels_map(["person_nam", "city_nam"], "iob")
    multient_ids = [
        [K.get_kpwr_entity_id_from_indexed_label(l, labels_map, "iob") for l in ls]
        for ls in multients
    ]
    rels_map = {"NO_RELATION": 0, "lives_in": 1}
    return tokens, token_ids, multients, multient_ids, labels_map, rels_map


def test_kpwr_multientities_to_relations_positive():
    tokens, token_ids, multients, multient_ids, labels_map, rels_map = _kpwr_fixture()
    rows, skipped = K.kpwr_multientities_to_relations(
        sentence_id="sent1",
        relevant_relations=[
            {
                "name": "lives_in",
                "from_chan": "person_nam",
                "from_val": "1",
                "to_chan": "city_nam",
                "to_val": "1",
            }
        ],
        tokens=tokens,
        token_ids=token_ids,
        multientities=multients,
        multientity_ids=multient_ids,
        entity_labels_map=labels_map,
        relations_map=rels_map,
        special_token_ids=SPECIAL_TOKEN_IDS,
    )
    assert skipped == 0 and len(rows) == 1
    r = rows[0]
    assert r["tokens"] == ["<e1>", "t0", "t1", "</e1>", "t2", "<e2>", "t3", "</e2>"]
    assert r["relation_info"]["relation_class"] == "lives_in"
    assert r["relation_info"]["relation_class_id"] == 1


def test_kpwr_overlap_skipped_sentence_survives():
    tokens = ["t0", "t1"]
    token_ids = [1, 2]
    multients = [["B-a_nam-1", "B-b_nam-1"], ["O"]]
    labels_map = K.mk_labels_map(["a_nam", "b_nam"], "iob")
    multient_ids = [
        [K.get_kpwr_entity_id_from_indexed_label(l, labels_map, "iob") for l in ls]
        for ls in multients
    ]
    rels_map = {"NO_RELATION": 0, "rel_x": 1}
    rows, skipped = K.kpwr_multientities_to_relations(
        sentence_id="s",
        relevant_relations=[
            {
                "name": "rel_x",
                "from_chan": "a_nam",
                "from_val": "1",
                "to_chan": "b_nam",
                "to_val": "1",
            }
        ],
        tokens=tokens,
        token_ids=token_ids,
        multientities=multients,
        multientity_ids=multient_ids,
        entity_labels_map=labels_map,
        relations_map=rels_map,
        special_token_ids=SPECIAL_TOKEN_IDS,
    )
    # the overlapping pair is skipped (readers_kpwr.py:285-288), nothing emitted
    assert skipped == 1 and rows == []


def test_kpwr_negatives_capped_and_deterministic():
    tokens = [f"t{i}" for i in range(8)]
    token_ids = list(range(8))
    chans = [f"c{i}_nam" for i in range(8)]
    multients = [[f"B-{chans[i]}-1"] for i in range(8)]
    labels_map = K.mk_labels_map(chans, "iob")
    multient_ids = [
        [K.get_kpwr_entity_id_from_indexed_label(l, labels_map, "iob") for l in ls]
        for ls in multients
    ]
    rels_map = {"NO_RELATION": 0, "rel_x": 1}
    kwargs = dict(
        sentence_id="sent9",
        relevant_relations=[
            {
                "name": "rel_x",
                "from_chan": "c0_nam",
                "from_val": "1",
                "to_chan": "c1_nam",
                "to_val": "1",
            }
        ]
        * 6,  # 6 positives allow up to 5 negatives
        tokens=tokens,
        token_ids=token_ids,
        multientities=multients,
        multientity_ids=multient_ids,
        entity_labels_map=labels_map,
        relations_map=rels_map,
        special_token_ids=SPECIAL_TOKEN_IDS,
        add_no_relations=True,
    )
    rows1, _ = K.kpwr_multientities_to_relations(**kwargs)
    rows2, _ = K.kpwr_multientities_to_relations(**kwargs)
    negs = [r for r in rows1 if r["relation_info"].get("relation_class") == "NO_RELATION"]
    assert len(negs) == K.MAX_NEGATIVES  # min(n_pairs, n_rels=6, 5)
    assert rows1 == rows2  # seeded determinism


def test_kpwr_natural_no_rel_row():
    tokens, token_ids, multients, multient_ids, labels_map, rels_map = _kpwr_fixture()
    rows, _ = K.kpwr_multientities_to_relations(
        sentence_id="s",
        relevant_relations=[],
        tokens=tokens,
        token_ids=token_ids,
        multientities=multients,
        multientity_ids=multient_ids,
        entity_labels_map=labels_map,
        relations_map=rels_map,
        special_token_ids=SPECIAL_TOKEN_IDS,
        retain_natural_no_rels=True,
    )
    assert len(rows) == 1
    assert rows[0]["relation_info"]["relation_class"] == "NO_RELATION"
    assert rows[0]["entities"] == ["B-person_nam-1", "I-person_nam-1", "O", "B-city_nam-1"]


def test_kpwr_no_rels_raises_when_not_retained():
    tokens, token_ids, multients, multient_ids, labels_map, rels_map = _kpwr_fixture()
    with pytest.raises(K.NoRelevantRelationsError):
        K.kpwr_multientities_to_relations(
            sentence_id="s",
            relevant_relations=[],
            tokens=tokens,
            token_ids=token_ids,
            multientities=multients,
            multientity_ids=multient_ids,
            entity_labels_map=labels_map,
            relations_map=rels_map,
            special_token_ids=SPECIAL_TOKEN_IDS,
            retain_natural_no_rels=False,
        )


def test_kpwr_conflicting_flags():
    with pytest.raises(ValueError):
        K.kpwr_multientities_to_relations(
            sentence_id="s",
            relevant_relations=[],
            tokens=[],
            token_ids=[],
            multientities=[],
            multientity_ids=[],
            entity_labels_map={},
            relations_map={"NO_RELATION": 0},
            special_token_ids={},
            retain_natural_no_rels=False,
            add_no_relations=True,
        )


# --- document-level inline processing (readers.py:422-547) ------------------

def test_process_document_inline_explode(tok):
    labels_map = K.mk_labels_map(["person_nam", "city_nam", "ENT"], "iob")
    doc = (
        '<entity id="d.1" category="person_nam">Adam Kowalski</entity> mieszka w '
        '<entity id="d.2" category="city_nam">Krakowie</entity>. '
        "Pogoda była ładna."
    )
    rows = K.process_document_inline(
        doc_id="d",
        doc_text=doc,
        tokenizer=tok,
        raw_relations={"d": {("d.1", "d.2"): "lives_in"}},
        entity_labels_map=labels_map,
        use_entity_classes=True,
        add_no_relations=True,
    )
    pair_rows = [r for r in rows if r["e1_id"]]
    norel_rows = [r for r in rows if not r["e1_id"]]
    assert len(pair_rows) == 1 and len(norel_rows) == 1  # filler sentence
    pr = pair_rows[0]
    assert pr["relation_info"]["relation_class"] == "lives_in"
    toks = pr["tokens"]
    assert toks[pr["relation_info"]["e1_beg"]] == "<e1>"
    assert toks[pr["relation_info"]["e2_end"]] == "</e2>"
    # markers wrap the right surfaces
    e1_span = toks[pr["relation_info"]["e1_beg"] + 1 : pr["relation_info"]["e1_end"]]
    assert detokenize(e1_span) == "adam kowalski"


def test_reference_label_pickle_parity(spark):
    """The one ground-truth artifact the reference ships: the pickled
    KPWr label vocabulary built by readers_kpwr.py:14-95
    (kpwr_labels_iob.bak-zklasa0 = (labels_map, rev_labels_map, rels_map,
    rev_rels_map, label_counts)). mk_labels_map and the Spark
    kpwr_relation_vocab must reproduce it exactly from the same
    channel/relation inventory."""
    import os
    import pickle

    path = "/root/reference/kpwr_labels_iob.bak-zklasa0"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference artifact not present")
    labels_map, rev_labels_map, rels_map, rev_rels_map, counts = pickle.load(
        open(path, "rb")
    )
    channels = [c for c in counts.keys() if c != "O"]
    ours = K.mk_labels_map(channels, "iob")
    assert ours == labels_map  # all 115 ids, IOB order, O pinned to 0
    assert {v: k for k, v in ours.items()} == rev_labels_map
    from semanticrelationextractionpolish_spark.sources.kpwr import (
        kpwr_relation_vocab,
    )

    rel_names = spark.createDataFrame(
        [(r,) for r in rels_map if r != "NO_RELATION"], "name string"
    )
    ours_rels = {
        r["rel_class"]: r["rel_id"]
        for r in kpwr_relation_vocab(rel_names).collect()
    }
    assert ours_rels == rels_map
    assert {v: k for k, v in ours_rels.items()} == rev_rels_map
