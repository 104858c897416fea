"""Session factory behaviour."""

from semanticrelationextractionpolish_spark import session


def test_codegen_cache_sized_to_the_working_set(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == (
        session.CODEGEN_CACHE_ENTRIES
    )
