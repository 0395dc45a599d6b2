"""Generated inputs are a pure function of the seed."""

from __future__ import annotations

from perfbench import gen


def _tables(seed):
    return gen.lakehouse_tables(seed)


def test_same_seed_same_tables():
    a, b = _tables(3), _tables(3)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


def test_other_seed_same_shape_new_content():
    a, b = _tables(3), _tables(4)
    for name in a:
        assert a[name].schema == b[name].schema, name
        assert a[name].num_rows == b[name].num_rows, name
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(b[name]), name
    # fixed dimension tables do not depend on the seed
    assert a["region"].equals(b["region"]) and a["nation"].equals(b["nation"])


def test_quote_feed_is_seeded_and_slides():
    a, b, c = gen.QuoteFeed(5, symbols=3), gen.QuoteFeed(5, symbols=3), gen.QuoteFeed(6, symbols=3)
    sym = a.symbols[0]
    assert a.fetch(sym) == b.fetch(sym)
    assert a.fetch(sym) != c.fetch(sym)
    assert a.fetch(sym).keys() == c.fetch(sym).keys()
    first = a.fetch(sym)
    a.advance()
    second = a.fetch(sym)
    assert len(first) == len(second) == a.window
    assert len(set(second) - set(first)) == 1  # one new day per tick


def test_quote_feed_plants_zero_rows():
    feed = gen.QuoteFeed(1, symbols=20)
    rows = feed.rows_through(feed.window - 1)
    assert len(rows) == 20 * feed.window
    assert any(r[2] == 0.0 for r in rows), "no open=0 row planted"
    assert any(r[6] == 0 for r in rows), "no volume=0 row planted"


def test_corpus_docs_seeded_with_planted_duplicates():
    a = gen.corpus_docs(9, 400)
    assert a.equals(gen.corpus_docs(9, 400))
    b = gen.corpus_docs(10, 400)
    assert a.schema == b.schema and a.num_rows == b.num_rows
    assert not a.equals(b)
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts), "no exact duplicate planted"
    nxt = gen.corpus_docs(9, 50, first_id=400, pool=texts)
    assert nxt.column("doc_id").to_pylist() == list(range(400, 450))

