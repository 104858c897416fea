"""Session factory behaviour."""

import logging

from pyspark.sql import SparkSession

from semanticrelationextractionpolish_spark import session


def test_failing_warmup_logs_and_still_returns_a_session(spark, monkeypatch, caplog):
    def broken_range(self, *args, **kwargs):
        raise RuntimeError("warmup plan broke")

    monkeypatch.setenv("SEMREX_WARM_SESSION", "1")
    # forget that this JVM was warmed, so get_spark warms it again
    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.setattr(SparkSession, "range", broken_range)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        s = session.get_spark(app_name="semrex-tests", cores=4, shuffle_partitions=8)
    assert s is spark
    warned = [r for r in caplog.records if "warmup failed" in r.getMessage()]
    assert warned and warned[0].exc_info is not None
    assert "warmup plan broke" in caplog.text
    monkeypatch.undo()
    assert s.range(3).count() == 3


def test_codegen_cache_sized_to_the_working_set(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == (
        session.CODEGEN_CACHE_ENTRIES
    )
