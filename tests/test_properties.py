"""Property-based tests (hypothesis) over the pure kernels."""

from itertools import combinations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from semanticrelationextractionpolish_spark.functions import kernels as K
from semanticrelationextractionpolish_spark.functions.lemmatize import (
    lemma_phrase,
    lemma_token,
)
from semanticrelationextractionpolish_spark.functions.tokenizer import (
    DeterministicTokenizer,
    SPECIAL_TOKEN_IDS,
    detokenize,
    sent_tokenize,
)

TOK = DeterministicTokenizer()

words = st.text(
    alphabet="abcdefghijklmnoprstuwyzążęółćśźń", min_size=1, max_size=12
)
sentences = st.lists(words, min_size=1, max_size=12).map(" ".join)


@given(sentences)
@settings(max_examples=200, deadline=None)
def test_tokenize_detokenize_roundtrip(text):
    res = TOK.tokenize(text)
    assert len(res["tokens"]) == len(res["token_ids"])
    assert detokenize(res["tokens"]) == text


@given(sentences)
@settings(max_examples=100, deadline=None)
def test_token_ids_stable_and_bounded(text):
    a = TOK.tokenize(text)["token_ids"]
    b = TOK.tokenize(text)["token_ids"]
    assert a == b
    assert all(0 < i < 50000 for i in a)


@given(st.lists(words, min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_sent_tokenize_rejoins(parts):
    text = ". ".join(parts) + "."
    sents = sent_tokenize(text)
    assert " ".join(sents) == text


@given(st.integers(2, 30))
@settings(max_examples=50, deadline=None)
def test_augmentation_count_is_choose2_under_cap(n):
    ids = {f"d.{i}" for i in range(n)}
    rels = {}
    K.augment_no_relations(ids, rels)
    if n < K.MAX_ENTITIES_PER_SENT:
        assert len(rels) == n * (n - 1) // 2
    else:
        assert rels == {}


@given(
    st.lists(
        st.sampled_from(["person_nam", "city_nam", "org_nam"]), min_size=2, max_size=8
    ),
    st.integers(0, 10**6),
)
@settings(max_examples=100, deadline=None)
def test_marker_insertion_invariants(chans, salt):
    """For random non-overlapping spans: marker insertion adds exactly 4
    tokens, preserves original token content in order, and the reported
    locations point at the markers."""
    labels = []
    for i, c in enumerate(chans):
        labels.extend([f"B-{c}-{i}", f"I-{c}-{i}"])
        labels.append("O")
    tokens = [f"t{i}" for i in range(len(labels))]
    token_ids = list(range(100, 100 + len(labels)))
    labels_map = K.mk_labels_map(set(chans), "iob")
    eids = [
        K.get_kpwr_entity_id_from_indexed_label(l, labels_map, "iob") for l in labels
    ]
    i1, i2 = 0, len(chans) - 1
    if i1 == i2:
        return
    pos = K.calculate_positional_token_offsets(
        entity_labels=labels,
        from_label_pure=f"{chans[i1]}-{i1}",
        to_label_pure=f"{chans[i2]}-{i2}",
        entity_encoding_scheme="iob",
    )
    toks, tids, ents, eids2, loc = K.insert_positional_tokens(
        tokens=list(tokens),
        token_ids=list(token_ids),
        entities=list(labels),
        entity_ids=list(eids),
        positions=pos,
        entity_encoding_scheme="iob",
        labels_map=labels_map,
        positional_tokens="scheme_1",
        special_token_ids=SPECIAL_TOKEN_IDS,
        corpus="kpwr",
    )
    assert len(toks) == len(tokens) + 4
    assert len(toks) == len(tids) == len(ents) == len(eids2)
    stripped = [t for t in toks if t not in ("<e1>", "</e1>", "<e2>", "</e2>")]
    assert stripped == tokens  # original content preserved in order
    assert toks[loc["e1_beg"]] == "<e1>" and toks[loc["e1_end"]] == "</e1>"
    assert toks[loc["e2_beg"]] == "<e2>" and toks[loc["e2_end"]] == "</e2>"


@given(st.lists(words, min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_lemma_idempotent(ws):
    phrase = " ".join(ws)
    once = lemma_phrase(phrase)
    assert lemma_phrase(once) == once or len(once.split()) == len(ws)
    assert all(len(lemma_token(w)) <= len(w) for w in ws)


@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["a_nam-1", "b_nam-1", "c_nam-2", "d_nam-1", "e_nam-3"]
            ).map(lambda x: "B-" + x),
            min_size=1,
            max_size=3,
            unique=True,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=100, deadline=None)
def test_nonoverlapping_pairs_properties(multients):
    pairs = K.kpwr_find_all_non_overlapping_entity_pairs(
        multients=multients, entity_encoding_scheme="iob"
    )
    assert len(pairs) <= K.MAX_NCHOOSEK
    # no returned pair may co-occur on any single token
    for a, b in pairs:
        assert a < b
        for ents in multients:
            pure = {e[2:] for e in ents}
            assert not ({a, b} <= pure)


# an inline-annotated sentence: plain words and entity spans, whose ids
# repeat within a sentence and come and go between sentences, and whose
# surfaces may hold U+2581 as a word of its own
def _annotate(segments):
    parts = []
    for seg in segments:
        if isinstance(seg, str):
            parts.append(seg)
        else:
            eid, surface = seg
            parts.append(
                f'<entity id="{eid}" category="person_nam">{" ".join(surface)}</entity>'
            )
    return " ".join(parts) + "."


entity_ids = st.sampled_from(["e.1", "e.2", "e.3", "e.4"])
annotated_sentences = st.lists(
    st.one_of(
        words,
        st.tuples(
            entity_ids,
            st.lists(st.one_of(words, st.just("▁")), min_size=1, max_size=3),
        ),
    ),
    min_size=1,
    max_size=8,
).map(_annotate)

PAGE_A = (
    '<entity id="r1" category="person_nam">Jan</entity> czyli '
    '<entity id="r1" category="person_nam">Janek</entity> mieszka w '
    '<entity id="r2" category="city_nam">Gdańsku</entity>.'
)
PAGE_B = (
    '<entity id="r1" category="person_nam">Anna ▁ Nowak</entity> mieszka w '
    '<entity id="r2" category="city_nam">Lublinie</entity>.'
)


@given(
    st.lists(annotated_sentences, min_size=1, max_size=4),
    st.lists(st.tuples(entity_ids, entity_ids), max_size=4),
)
@example([PAGE_A], [("r1", "r2")])
@example([PAGE_B], [("r1", "r2")])
@settings(max_examples=200, deadline=None)
def test_pair_lemmas_are_mention_lemmas(sents, rels):
    """Every pair takes its surfaces and lemmas from the mention of the
    same id in the same sentence, and a mention's lemma is the lemma of
    the text the annotation marked with that id (an oracle read straight
    off the inline markup)."""
    from semanticrelationextractionpolish_spark.operators.mentions import (
        sentence_mentions,
    )
    from semanticrelationextractionpolish_spark.operators.pairs import (
        document_pairs,
    )

    tagged = []
    for sent in sents:
        toks, _, ents, eids, _ = K.tag_sentence_inline(
            sent, TOK, "iob", use_entity_classes=True
        )
        tagged.append((toks, sentence_mentions(toks, ents, eids)))
    rel_rows = [
        {"e1_id": a, "e2_id": b, "rel_class": "lives_in"} for a, b in rels if a != b
    ]
    n_pairs = 0
    for sent, (_, mentions), sent_pairs in zip(
        sents, tagged, document_pairs(tagged, rel_rows)
    ):
        marked = {}
        for m in K.ENTITY_RE.finditer(sent):
            marked.setdefault(m.group(1), []).append(m.group(4))
        by_id = {m["entity_id"]: m for m in mentions}
        assert {eid: m["lemma"] for eid, m in by_id.items()} == {
            eid: lemma_phrase(" ".join(texts)) for eid, texts in marked.items()
        }
        for _, pair in sent_pairs:
            n_pairs += 1
            for e in ("e1", "e2"):
                m = by_id[pair[f"{e}_id"]]
                assert pair[f"{e}_lemma"] == m["lemma"]
                assert pair[f"{e}_surface"] == m["surface"]
    if rels and sents[0] in (PAGE_A, PAGE_B):
        assert n_pairs == 1


# --- Spark-backed properties (few examples: each runs Spark jobs) ---------


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=5, deadline=None)
def test_connected_components_equals_union_find(spark, raw):
    """Star-contraction CC == plain union-find min-labels on arbitrary
    graphs (self-loops, duplicates, multi-component)."""
    from semanticrelationextractionpolish_spark.operators.linking import (
        connected_components,
    )

    spark = spark
    parent = list(range(61))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    seen = sorted({x for e in raw for x in e})
    roots: dict = {}
    expected = {}
    for x in seen:
        r = find(x)
        roots.setdefault(r, x)
        expected[x] = roots[r]

    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x107),
            max_size=30,
        ),
        min_size=0,
        max_size=12,
    ),
    st.sampled_from([1, 2, 5, 9, 64]),
    st.booleans(),
)
@settings(max_examples=5, deadline=None)
def test_lines_source_matches_ground_truth(
    spark, tmp_path_factory, lines, split_bytes, trailing_nl
):
    """Any file content + any split width: every line exactly once with
    its true byte offset."""
    from semanticrelationextractionpolish_spark.sources.lines import (
        lines_with_offsets,
    )

    spark = spark
    d = tmp_path_factory.mktemp("lines_prop")
    data = "\n".join(lines).encode("utf-8") + (b"\n" if trailing_nl else b"")
    f = d / "f.txt"
    f.write_bytes(data)

    expected = []
    off = 0
    raw_lines = data.split(b"\n")
    if data.endswith(b"\n"):
        raw_lines = raw_lines[:-1]
    if data == b"":
        raw_lines = []
    for ln in raw_lines:
        expected.append((str(f), off, ln.decode("utf-8", errors="replace")))
        off += len(ln) + 1
    got = sorted(
        map(tuple, lines_with_offsets(spark, str(f), split_bytes=split_bytes).collect())
    )
    assert got == sorted(expected)


def _hex12(i: int) -> str:
    import hashlib

    return hashlib.md5(str(i).encode()).hexdigest()[:12]


# a lemma family: a base (a 12-hex id - a small shingle universe, so
# accidental band collisions abound - or a short word) and its
# near-duplicate twins (the base with a suffix)
_lemma_family = st.tuples(
    st.one_of(
        st.integers(0, 10**9).map(_hex12),
        st.text(alphabet="abcłó", min_size=1, max_size=4),
    ),
    st.lists(st.sampled_from(["a", "y", "ów"]), max_size=2, unique=True),
)


@given(
    st.lists(_lemma_family, min_size=1, max_size=10),
    st.integers(1, 3),
    st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
# a twin merged in a later batch than its base must link to history
@example([(_hex12(7), ["a"]), ("ab", ["y"])], 2, [0] * 10)
@settings(max_examples=5, deadline=None)
def test_stream_merge_equals_batch_canonicalize(
    spark, tmp_path_factory, families, n_batches, first_batch
):
    """Lemma families merged in 1-3 stream batches give exactly batch
    ``canonicalize``'s assignments over all the mentions at once. A
    family's base goes to its drawn batch and each twin to the next one,
    so with 2-3 batches every near-duplicate pair spans batches. At
    most 30 lemmas, so every LSH bucket stays under ``MAX_BUCKET`` (the
    one documented stream/batch divergence is a bucket that crosses
    the cap mid-stream)."""
    from semanticrelationextractionpolish_spark.operators.linking import (
        MAX_BUCKET,
        canonicalize,
    )
    from semanticrelationextractionpolish_spark.operators.materialize import (
        release,
    )
    from semanticrelationextractionpolish_spark.streaming.linking import (
        merge_mentions_batch,
    )

    batch_of = {}
    for f, (base, twins) in enumerate(families):
        for j, lemma in enumerate([base, *(base + t for t in twins)]):
            batch_of.setdefault(lemma, (first_batch[f] + j) % n_batches)
    lemmas = list(batch_of)[:30]
    assert len(lemmas) <= MAX_BUCKET
    schema = "lemma string, surface string"
    want, _ = canonicalize(
        spark.createDataFrame([(le, le.upper()) for le in lemmas], schema)
    )
    want = sorted(map(tuple, want.collect()))
    state = str(tmp_path_factory.mktemp("merge_prop"))
    for b in range(n_batches):
        batch = [(le, le.upper()) for le in lemmas if batch_of[le] == b]
        got = merge_mentions_batch(
            spark, spark.createDataFrame(batch, schema), state, batch_id=b
        )
        if b < n_batches - 1:
            release(got)
    assert sorted(map(tuple, got.collect())) == want
    release(got)


# --- VersionedState vs a pure-Python model ---------------------------------

_vs_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.integers(min_value=0, max_value=3),
            st.lists(st.integers(min_value=0, max_value=9), max_size=4),
        ),
        st.tuples(
            st.just("replace"),
            st.just(0),
            st.lists(st.integers(min_value=0, max_value=9), max_size=4),
        ),
        st.tuples(st.just("commit"), st.just(0), st.just([])),
        st.tuples(st.just("crash"), st.just(0), st.just([])),
    ),
    min_size=1,
    max_size=7,
)


@given(_vs_ops)
# a bucketed replace over committed buckets must drop the touched
# buckets' old segments; 20 random examples rarely build this sequence
@example(
    [
        ("replace", 0, [1, 2]),
        ("commit", 0, []),
        ("replace", 0, [1, 3]),
        ("commit", 0, []),
    ]
)
@settings(max_examples=20, deadline=None)
def test_versioned_state_matches_model(spark, tmp_path_factory, ops):
    """VersionedState's read view must always equal a pure-Python model:
    committed segments, shadowed by staged same-batch segments / a pending
    bucketed replace; a 'crash' (new store instance, staged work lost) reverts to
    the committed view. Exercises the commit/prune/grace machinery under
    arbitrary op interleavings, not just the linking workflow's."""
    from semanticrelationextractionpolish_spark.streaming.state import (
        VersionedState,
    )

    root = str(tmp_path_factory.mktemp("vstate"))
    store = VersionedState(spark, root)
    committed_segs: dict[object, list[int]] = {}
    staged_segs: dict[int, list[int]] = {}
    staged_replace: list[int] | None = None

    def expected():
        base = (
            {"replace": staged_replace}
            if staged_replace is not None
            else dict(committed_segs)
        )
        base.update(staged_segs)  # staged batch segs shadow same-batch
        return sorted(v for vs in base.values() for v in vs)

    def mk(rows):
        return spark.createDataFrame(
            [(int(v),) for v in rows], "v long"
        ) if rows else spark.createDataFrame([], "v long")

    for op, b, rows in ops:
        if op == "append":
            store.append_batch("t", mk(rows), b)
            staged_segs[b] = rows  # re-append of a batch REPLACES it
        elif op == "replace":
            # a full-table replace: rewrite every bucket that holds an
            # old or a new key
            keys = store.read("t", "v long").unionByName(mk(rows))
            store.replace_buckets("t", mk(rows), keys, key_col="v", n_buckets=4)
            staged_replace = list(rows)
            staged_segs = {}
        elif op == "commit":
            store.commit()
            if staged_replace is not None:
                committed_segs = {"replace": staged_replace}
            committed_segs.update(staged_segs)
            staged_segs = {}
            staged_replace = None
        else:  # crash: staged work lost, reopen from manifest
            store = VersionedState(spark, root)
            staged_segs = {}
            staged_replace = None
        got = sorted(
            r["v"] for r in store.read("t", "v long").collect()
        )
        assert got == expected(), (op, b, rows, got, expected())


# --- lines source: arbitrary-bytes split invariance (no Spark) -------------

_line_bytes = st.binary(max_size=60).map(
    # sprinkle terminators densely so shrinking finds boundary cases
    lambda b: b.replace(b"\x01", b"\r").replace(b"\x02", b"\n")
)


@given(data=_line_bytes, split_bytes=st.integers(min_value=1, max_value=16))
@settings(max_examples=300, deadline=None)
def test_split_frames_reconstruct_file_exactly(tmp_path_factory, data, split_bytes):
    """Pure-kernel form of the TextInputFormat contract: over ARBITRARY
    bytes (any mix of \\n, \\r\\n, lone \\r, unterminated tails) and any
    split width, the union of per-split frames is every record exactly
    once with its true byte offset."""
    import re as _re

    from semanticrelationextractionpolish_spark.sources.lines import (
        _plan_splits,
        _split_frame,
    )

    d = tmp_path_factory.mktemp("lines_hyp")
    f = str(d / "f.bin")
    with open(f, "wb") as fh:
        fh.write(data)

    # reference: one regex pass over the whole file
    want = []
    prev = 0
    for m in _re.finditer(rb"\r\n|\r|\n", data):
        want.append((prev, data[prev : m.start()].decode("utf-8", "replace")))
        prev = m.end()
    if prev < len(data):
        want.append((prev, data[prev:].decode("utf-8", "replace")))

    got = []
    for file, start, length in _plan_splits([f], split_bytes):
        frame = _split_frame(file, start, length)
        if frame is not None:
            got.extend(zip(frame["off"].tolist(), frame["value"].tolist()))
    assert sorted(got) == sorted(want), (data, split_bytes)
