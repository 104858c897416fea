"""Frames built from driver-side rows must not run Python-worker tasks.

``spark.createDataFrame(list, schema)`` pickles its rows into a
``PythonRDD``, so every scan of the frame is a Python-worker task even in
a plan with no Python kernel. These tests pin the JVM-only construction
(``materialize.local_frame``) on the engine paths that build such frames:
empty state reads, the connected-components fast path and the pinned
vocabulary rows. Inputs are built with SQL ``VALUES`` so that only the
code under test could bring a ``PythonRDD`` into the plan.
"""

import pytest

from semanticrelationextractionpolish_spark.operators.linking import (
    connected_components,
)
from semanticrelationextractionpolish_spark.operators.materialize import local_frame
from semanticrelationextractionpolish_spark.sources.kpwr import (
    kpwr_label_vocab,
    kpwr_relation_vocab,
)
from semanticrelationextractionpolish_spark.streaming.state import VersionedState


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _assert_jvm_only(df):
    assert "PythonRDD" not in _rdd_lineage(df)


def test_createdataframe_from_list_is_a_python_rdd(spark):
    """The check itself: the pickled construction it guards against
    does show up in the lineage."""
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame([(1,)], "x long"))


@pytest.mark.parametrize(
    "rows",
    [
        [],
        [("a", 1, [1.5, None]), (None, None, None), ("b", 2**62 + 1, [])],
    ],
)
def test_local_frame_is_jvm_only(spark, rows):
    schema = "name string, n long, xs array<double>"
    df = local_frame(spark, rows, schema)
    _assert_jvm_only(df)
    assert [f.name for f in df.schema.fields] == ["name", "n", "xs"]
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_conversion_error_raises(spark):
    """No silent fall back to the pickled path."""
    import pyarrow as pa

    with pytest.raises(pa.ArrowException):
        local_frame(spark, [("not a number",)], "n long")


def test_state_read_of_table_without_segments(spark, tmp_path):
    store = VersionedState(spark, str(tmp_path / "state"))
    df = store.read("lemmas", "lemma string, n_mentions long")
    _assert_jvm_only(df)
    assert df.count() == 0
    assert df.columns == ["lemma", "n_mentions"]


@pytest.mark.parametrize(
    "values", ["", "('a', 'b'), ('b', 'c'), ('x', 'y'), ('z', 'z')"]
)
def test_connected_components_fast_path_is_jvm_only(spark, values):
    edges = spark.sql(
        f"SELECT * FROM VALUES {values} AS t(src, dst)"
        if values
        else "SELECT CAST(NULL AS STRING) AS src, CAST(NULL AS STRING) AS dst WHERE false"
    )
    out = connected_components(edges)
    _assert_jvm_only(out)
    labels = {r["id"]: r["comp"] for r in out.collect()}
    if values:
        assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}
    else:
        assert labels == {}


def test_pinned_vocab_rows_are_jvm_only(spark):
    kpwr_docs = spark.sql(
        """SELECT * FROM VALUES ('<ann chan="loc_nam">1</ann>') AS t(xml)"""
    )
    kpwr_rels = spark.sql("SELECT * FROM VALUES ('located_in') AS t(name)")
    kv = kpwr_label_vocab(kpwr_docs)
    kr = kpwr_relation_vocab(kpwr_rels)
    for df in (kv, kr):
        _assert_jvm_only(df)
    assert ("O", 0) in {(r["label"], r["label_id"]) for r in kv.collect()}
    assert {(r["rel_class"], r["rel_id"]) for r in kr.collect()} == {
        ("NO_RELATION", 0),
        ("located_in", 1),
    }
