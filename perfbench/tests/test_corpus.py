"""Generator determinism: the same seed gives the same bytes."""

from corpus import MARKER, CorpusSpec, Generator, write_docs

SMALL = CorpusSpec(n_docs=120, vocab_size=800)


def test_same_seed_same_bytes(tmp_path):
    a, b = Generator(7, SMALL), Generator(7, SMALL)
    write_docs(a.docs, tmp_path / "a.parquet")
    write_docs(b.docs, tmp_path / "b.parquet")
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_streams_are_deterministic_and_seed_dependent():
    a, b, c = Generator(7, SMALL), Generator(7, SMALL), Generator(8, SMALL)
    assert a.queries("serve", 50) == b.queries("serve", 50)
    assert a.docs != c.docs
    assert a.queries("serve", 50) != c.queries("serve", 50)
    assert a.maintain_batch(3, 2) == b.maintain_batch(3, 2)


def test_maintain_batch_marks_updates_and_keeps_deletes_apart():
    g = Generator(5, SMALL)
    updated, deleted = g.maintain_batch(3, 2)
    assert len(updated) == 3 and len(deleted) == 2
    assert not {d.doc_id for d in updated} & {d.doc_id for d in deleted}
    for d in updated:
        old = g.docs[d.doc_id].text
        assert d.text.startswith(old + "\n")
        assert d.text.split("\n")[-1].split()[0] == MARKER
    # the marker appears in no generated document
    assert not any(MARKER in d.text for d in g.docs)


def test_queries_are_phrases_of_their_source_document():
    g = Generator(3, SMALL)
    for doc_id, q in g.queries("serve", 200):
        assert 2 <= len(q.split()) <= 3
        assert any(q in line for line in g.docs[doc_id].text.split("\n"))


def test_corpus_shape():
    g = Generator(3, CorpusSpec(n_docs=400))
    st = g.stats()
    assert st["docs"] == 400
    assert 0 < st["dup_share"] < 0.1
    # Zipf: the most frequent word is far more common than the median one
    counts = {}
    for d in g.docs:
        for w in d.text.split():
            counts[w] = counts.get(w, 0) + 1
    freq = sorted(counts.values(), reverse=True)
    assert freq[0] > 50 * freq[len(freq) // 2]
    assert {d.lang for d in g.docs} == {"en", "de", "fr"}
