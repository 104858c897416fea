import pytest


@pytest.fixture(scope="session")
def spark():
    from semanticrelationextractionpolish_spark.session import get_spark

    s = get_spark(app_name="semrex-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _lemma_edge_page(url, text):
    from semanticrelationextractionpolish_spark.sources.synth import (
        HTML_PREFIX,
        HTML_SUFFIX,
    )

    html = (HTML_PREFIX + text + HTML_SUFFIX).encode("utf-8")
    return (url, None, html, text, "pl")


@pytest.fixture(scope="session")
def lemma_edge_pages(spark):
    """Three pages, each with one gold ``lives_in`` triple: page A tags
    one entity id twice in a sentence, page B has U+2581 inside a
    surface, and a control page has the synthetic corpus's shape.
    Every triple's subject and object must get a node and an edge."""
    from semanticrelationextractionpolish_spark import schemas

    def ent(eid, surface, cat):
        return f'<entity id="{eid}" category="{cat}">{surface}</entity>'

    pages = [
        _lemma_edge_page(
            "https://a.example.pl/doc/1",
            f"{ent('a.1', 'Jan', 'person_nam')} czyli "
            f"{ent('a.1', 'Janek', 'person_nam')} mieszka w "
            f"{ent('a.2', 'Gdańsku', 'city_nam')}.",
        ),
        _lemma_edge_page(
            "https://b.example.pl/doc/2",
            f"{ent('b.1', 'Anna ▁ Nowak', 'person_nam')} mieszka w "
            f"{ent('b.2', 'Lublinie', 'city_nam')}.",
        ),
        _lemma_edge_page(
            "https://c.example.pl/doc/3",
            f"{ent('c.1', 'Tomasz Mazur', 'person_nam')} mieszka w "
            f"{ent('c.2', 'Poznaniu', 'city_nam')}.",
        ),
    ]
    rels = [
        (url, f"{k}.1", f"{k}.2", "lives_in")
        for (url, *_), k in zip(pages, "abc")
    ]
    return (
        spark.createDataFrame(pages, schemas.PAGES),
        spark.createDataFrame(rels, schemas.PAGE_RELATIONS),
    )
